"""Run one databus workload and print its metrics.

    python3 perfbench/run.py --workload window_drain --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout: the engine is imported from there. The
run starts Spark on ``local[--cores]`` through ``session.get_spark``,
builds the fixture from ``--seed``, warms the plan up, measures for
``--seconds`` seconds, value-checks every sink, stops Spark and prints,
as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. An operation is
one input file; it fails when any of its rows is missing, duplicated or
wrong in a sink.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` spends
half of ``--seconds`` on traced passes and half on untraced passes
after them, reports the per-layer metrics of the traced passes, and
writes the spans as JSONL and the per-layer table as Markdown under
``.perfbench/traces/``. The launch is described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--shuffle-partitions", type=int, default=4)
    ap.add_argument("--driver-memory", default="2g")
    ap.add_argument(
        "--jit", choices=("c1", "tiered"), default="c1",
        help="c1 stops the driver JVM's JIT at C1; tiered is the JVM default",
    )
    return ap.parse_args(argv)


def import_engine() -> None:
    """Make the checkout's engine importable here and in the Python
    workers; exit with code 2 when the checkout holds no engine."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import dbus_spark
        import tests.oracle_pd  # noqa: F401
    except ImportError as e:
        sys.exit(f"perfbench: no engine to benchmark under {ROOT}: {e}")
    if not os.path.abspath(dbus_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: dbus_spark imported from outside {ROOT}")


def launch_confs(args, work: str) -> dict[str, str]:
    """Everything the session needs beyond the engine's defaults."""
    return {
        # the library default (48g) is sized for a 128 GiB host
        "spark.driver.memory": args.driver_memory,
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": os.path.join(work, "local"),
        # C1 only by default: a run lasts about a minute, and with C2 the
        # batch time keeps falling for more than a minute after start-up
        # as the JIT catches up, so every measurement would sit on that
        # slope. README gives the per-layer cost of this choice. C1 alone
        # reserves a 48 MB code cache, which fills about 30 s into a run
        # and stalls it while the JVM flushes; 240 MB is the tiered
        # default.
        # The heap is committed in full at start (-Xms), so the collector
        # sizes it the same way on every run, and its pages are one
        # mapping that the memory probe can tell apart; they become
        # resident as the collector first uses them.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{args.driver_memory}"
            + (
                " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
                if args.jit == "c1" else ""
            )
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # statusTracker counts must never be truncated
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(args, work: str, app_name: str):
    """Start Spark with the pinned launch; everything it writes goes
    under ``work``."""
    from dbus_spark.session import get_spark

    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files in the system temp dir from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_STATE_STORE", None)  # the engine default
    spark = get_spark(
        app_name,
        master=f"local[{args.cores}]",
        shuffle_partitions=args.shuffle_partitions,
        extra_confs=launch_confs(args, work),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _pctl(values, q):
    import numpy as np

    return float(np.percentile(values, q)) if len(values) else 0.0


def _median(values):
    return _pctl(values, 50)


# per-batch sums over a progress record's stateOperators
STATE_FIELDS = {
    "state_update_ms": "allUpdatesTimeMs",
    "state_commit_ms": "commitTimeMs",
    "state_instances": "numStateStoreInstances",
    "state_rows": "numRowsTotal",
    "state_bytes": "memoryUsedBytes",
}


FIGURES = (
    "batch_ms", "rows", "write_ms", "jobs", "tasks", "delivery_p50",
    "delivery_p90", "turns_per_s", "backlog", "scans", "start_ms",
    "dropped", "records", "writes", *STATE_FIELDS,
)

# A pass during which the host took more than this share of the VM's
# CPU does not count: its timings show the host, not the engine.
STEAL_MAX = 0.03


def analyse(passes, log, clock) -> None:
    """Join each pass with its progress records and sink write times;
    fills in each pass's ``batch_files``, ``dropped`` and ``figures``."""
    from dbus_spark.streaming.checkpoint import file_source_batches

    for p in passes:
        out = p.figures = {k: [] for k in FIGURES}
        delivered: dict[str, float] = {}
        rows_read = dropped = 0
        for q in p.queries:
            bf = [
                [os.path.basename(f) for f in b]
                for b in file_source_batches(q.ckpt)
            ]
            p.batch_files.append(bf)
            for rec in log.wait_for(str(q.query.runId), len(bf)):
                ops = rec.get("stateOperators") or []
                dropped += sum(o["numRowsDroppedByWatermark"] for o in ops)
                w = clock.writes[(q.sink.path, rec["batchId"])]
                for f in bf[rec["batchId"]]:
                    delivered[f] = max(delivered.get(f, 0.0), w["end"])
                rows_read += rec["numInputRows"]
                out["records"].append(rec)
                out["writes"].append(w)
                out["batch_ms"].append(rec["durationMs"]["triggerExecution"])
                out["rows"].append(rec["numInputRows"])
                out["write_ms"].append((w["end"] - w["start"]) * 1000)
                if "jobs" in w:
                    out["jobs"].append(w["jobs"])
                    out["tasks"].append(w["tasks"])
                if ops:
                    for key, name in STATE_FIELDS.items():
                        out[key].append(sum(o[name] for o in ops))
        p.dropped = dropped
        out["dropped"].append(dropped)
        # rows the sources read over rows offered: each read of a file,
        # by any query or any branch of a query's plan, counts once
        out["scans"].append(rows_read / p.turns)
        out["start_ms"].append(p.start_ms)
        # on a drain every file is due at the query start, so this is
        # the time from the start until the file's epoch was committed
        delivery = [(delivered[f] - p.due[f]) * 1000 for f in p.due]
        out["delivery_p50"].append(_pctl(delivery, 50))
        out["delivery_p90"].append(_pctl(delivery, 90))
        events = sorted(
            [(t, 1) for t in p.due.values()]
            + [(t, -1) for t in delivered.values()]
        )
        level = peak = 0
        for _, step in events:
            level += step
            peak = max(peak, level)
        out["backlog"].append(peak)
        out["turns_per_s"].append(p.turns / (p.t_end - p.t_start))


def pool(passes) -> dict:
    """The figures of ``passes``, pooled."""
    return {k: [v for p in passes for v in p.figures[k]] for k in FIGURES}


def clean_passes(passes):
    """The passes whose figures count: those the host took at most
    STEAL_MAX of the CPU from, or, when fewer than half of the passes
    are that clean, the least stolen half."""
    ok = [p for p in passes if p.steal <= STEAL_MAX]
    if 2 * len(ok) >= len(passes):
        return ok
    return sorted(passes, key=lambda p: p.steal)[: (len(passes) + 1) // 2]


def end_to_end(setup_s, a, mem) -> dict:
    return {
        "setup_s": (setup_s, "s", 1),
        "turns_per_s": (_median(a["turns_per_s"]), "1/s", len(a["turns_per_s"])),
        "batch_ms_p50": (_median(a["batch_ms"]), "ms", len(a["batch_ms"])),
        # each pass's percentiles, so one slow pass moves one sample
        "delivery_ms_p50": (
            _median(a["delivery_p50"]), "ms", len(a["delivery_p50"])
        ),
        "delivery_ms_p90": (
            _median(a["delivery_p90"]), "ms", len(a["delivery_p90"])
        ),
        "peak_rss_mb": (
            (mem["non_heap"] + mem["live_heap"]) / 2**20, "MB", mem["n"]
        ),
    }


def enrich_ms_per_file(fixture) -> list[float]:
    """Time of the enrich kernel on each input file's text."""
    from dbus_spark.functions.vectorized import turn_enrich_frame

    out = []
    for _, rows in fixture.source.groupby("_file", sort=False):
        t0 = time.perf_counter()
        turn_enrich_frame(rows["text"])
        out.append((time.perf_counter() - t0) * 1000)
    return out


def per_layer(a, setup, passes, mem, enrich_ms, overhead) -> dict:
    m = _median
    phase = {k: [r["durationMs"].get(k, 0) for r in a["records"]] for k in (
        "latestOffset", "getBatch", "queryPlanning", "walCommit",
        "commitOffsets", "addBatch",
    )}
    n = len(a["records"])
    return {
        "sources.latest_offset_ms": (m(phase["latestOffset"]), "ms", n),
        "sources.get_batch_ms": (m(phase["getBatch"]), "ms", n),
        "sources.rows_per_batch": (m(a["rows"]), "count", n),
        "sources.backlog_files_max": (max(a["backlog"]), "count", len(passes)),
        "sources.scans_per_file": (m(a["scans"]), "ratio", len(passes)),
        "pipeline.start_ms": (m(a["start_ms"]), "ms", len(passes)),
        "pipeline.queries": (len(passes[0].queries), "count", len(passes)),
        "pipeline.query_planning_ms": (m(phase["queryPlanning"]), "ms", n),
        "operators.state_update_ms": (
            m(a["state_update_ms"]), "ms", len(a["state_update_ms"])
        ),
        "operators.state_commit_ms": (
            m(a["state_commit_ms"]), "ms", len(a["state_commit_ms"])
        ),
        "operators.state_instances": (
            m(a["state_instances"]), "count", len(a["state_instances"])
        ),
        "operators.state_rows": (
            max(a["state_rows"], default=0), "count", len(a["state_rows"])
        ),
        "operators.state_bytes": (
            max(a["state_bytes"], default=0), "bytes", len(a["state_bytes"])
        ),
        "operators.rows_dropped_by_watermark": (
            m(a["dropped"]), "count", len(passes)
        ),
        "functions.enrich_ms": (m(enrich_ms), "ms", len(enrich_ms)),
        "memory.live_heap_mb": (mem["live_heap"] / 2**20, "MB", mem["n"]),
        "memory.non_heap_rss_mb": (mem["non_heap"] / 2**20, "MB", 1),
        "sinks.write_batch_ms": (m(a["write_ms"]), "ms", n),
        "sinks.jobs_per_batch": (m(a["jobs"]), "count", len(a["jobs"])),
        "sinks.tasks_per_batch": (m(a["tasks"]), "count", len(a["tasks"])),
        "sinks.rows_written": (
            m([p.rows_written for p in passes]), "count", len(passes)
        ),
        "streaming.wal_commit_ms": (m(phase["walCommit"]), "ms", n),
        "streaming.commit_offsets_ms": (m(phase["commitOffsets"]), "ms", n),
        "streaming.add_batch_ms": (m(phase["addBatch"]), "ms", n),
        "session.start_s": (setup["session.start_s"], "s", 1),
        "datagen.s": (setup["datagen.s"], "s", 1),
        "warmup_s": (setup["warmup_s"], "s", 1),
        "harness.trace_overhead": (overhead, "ratio", 1),
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every process this
    run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.probes import tree_pids

    children = [p for p in tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    import_engine()

    from perfbench.probes import process_age_s

    t_origin = time.time() - process_age_s()
    work = os.path.join(STATE_DIR, f"work-{os.getpid()}")
    try:
        result = run(args, work, t_origin)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in result.pop("lines"):
        print(line)
    print(json.dumps(result), flush=True)
    return 0


def run(args, work, t_origin) -> dict:
    from perfbench.probes import MemorySampler, ProgressLog, SinkClock
    from perfbench.trace import Spans, layer_table
    from perfbench.workloads import WORKLOADS, read_sinks, warm_up

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}")
    wl = WORKLOADS[args.workload]
    spans = Spans()
    spark = start_session(args, work, "perfbench")
    try:
        t_session = time.time()
        setup_root = spans.add("setup", t_origin, None)
        spans.add("session.start", t_origin, t_session, parent=setup_root)
        log = ProgressLog()
        spark.streams.addListener(log)

        fixture = wl.fixture(args.seed)
        t_data = time.time()
        spans.add("datagen", t_session, t_data, parent=setup_root)
        warm_up(spark, wl.start, fixture, os.path.join(work, "warmup"))
        t_ready = time.time()
        spans.add("warmup", t_data, t_ready, parent=setup_root)
        spans.spans[0]["end"] = t_ready
        setup = {
            "session.start_s": t_session - t_origin,
            "datagen.s": t_data - t_session,
            "warmup_s": t_ready - t_data,
        }
        setup_s = t_ready - t_origin

        def measure(tag: str, count_jobs: bool):
            with MemorySampler(spark) as rss, SinkClock(
                spark, count_jobs
            ) as clock:
                passes = wl.run_passes(
                    spark, fixture, os.path.join(work, tag),
                    args.seconds / len(phases),
                )
            analyse(passes, log, clock)
            mem = {
                "non_heap": rss.peak_bytes,
                "live_heap": max(p.live_heap_bytes for p in passes),
                "n": len(passes),
            }
            return passes, mem

        # the traced passes come first, right after the warm-up, as the
        # measured passes of an untraced run do; the untraced passes
        # after them give the tracing overhead (overstated, if anything,
        # since they run on a warmer JVM)
        phases = {"plain": False}
        if args.trace:
            phases = {"traced": True, **phases}
        results = {tag: measure(tag, jobs) for tag, jobs in phases.items()}
        passes, mem = results["plain"]
        a = pool(clean_passes(passes))
        all_passes = [p for r in results.values() for p in r[0]]
        if args.trace:
            tpasses, tmem = results["traced"]
            tpasses = clean_passes(tpasses)
            ta = pool(tpasses)
            for p in tpasses:
                spans.add("pipeline.start", p.t_start,
                          p.t_start + p.start_ms / 1000, queries=len(p.queries))
            for rec, w in zip(ta["records"], ta["writes"]):
                spans.add_batch(rec, w)

        t_measured = time.time()
        attempted, failed, lines = 0, 0, []
        for p, sinks in zip(all_passes, read_sinks(spark, all_passes)):
            bad, detail = wl.check(p, sinks)
            p.rows_written = detail.pop("rows_written")
            attempted += len(p.due)
            failed += len(bad)
            if bad:
                lines.append(f"check failed: {len(bad)} files: {detail}")
        if args.trace:
            overhead = _median(ta["batch_ms"]) / _median(a["batch_ms"])
            enrich = enrich_ms_per_file(fixture)
            metrics = per_layer(ta, setup, tpasses, tmem, enrich, overhead)
            busy = {
                "operators.state_update": ta["state_update_ms"],
                "operators.state_commit": ta["state_commit_ms"],
            }
            table = layer_table(spans, busy)
            base = os.path.join(
                STATE_DIR, "traces", f"{args.workload}-seed{args.seed}"
            )
            os.makedirs(os.path.dirname(base), exist_ok=True)
            spans.write_jsonl(base + ".jsonl")
            with open(base + ".md", "w") as f:
                f.write(f"# {args.workload} seed {args.seed}\n\n{table}\n")
            lines.append(table)
        else:
            metrics = end_to_end(setup_s, a, mem)
        t_checked = time.time()
    finally:
        stop_spark(spark)
    lines.append(
        f"wall s: setup {setup_s:.1f} (session {setup['session.start_s']:.1f}"
        f", datagen {setup['datagen.s']:.1f}, warmup {setup['warmup_s']:.1f})"
        f", measure {t_measured - t_ready:.1f}, "
        f"check {t_checked - t_measured:.1f}, "
        f"stop {time.time() - t_checked:.1f}"
    )
    for tag, (ps, _) in results.items():
        counted = clean_passes(ps)
        lines.append(
            f"{tag} passes, turns/s at cpu stolen (* = not counted): "
            + ", ".join(
                f"{p.figures['turns_per_s'][0]:.0f} at {p.steal:.1%}"
                + ("" if p in counted else "*")
                for p in ps
            )
        )
    for name, (value, unit, n) in metrics.items():
        lines.append(f"{name} = {value:.6g} {unit} (samples: {n})")
    return {
        "lines": lines,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(value), "unit": unit}
            for name, (value, unit, _) in metrics.items()
        },
    }


if __name__ == "__main__":
    sys.exit(main())
