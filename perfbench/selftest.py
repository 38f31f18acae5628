"""Self-test of the benchmark's value checks.

    python3 perfbench/selftest.py

Runs each workload once on a tiny fixture, checks that its real sink
output passes, then injects one duplicated and one missing key into that
output and asserts that the check fails exactly the input files behind
those two keys. Exits 0 when every check catches both faults.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402

TINY_FILES = 3
TINY_ROWS = 300


def _inject(out, keys, owners):
    """Duplicate one output row and drop another whose keys come from
    different input files; return the altered output and the files
    that must now fail."""
    import pandas as pd

    rows = out.drop_duplicates(keys).reset_index(drop=True)
    blame = [owners[tuple(r)] for r in rows[keys].itertuples(index=False)]
    # prefer two keys of disjoint files, so each fault fails its own file
    dup = min(range(len(blame)), key=lambda i: len(blame[i]))
    others = [i for i in range(len(blame)) if i != dup]
    miss = next((i for i in others if not blame[i] & blame[dup]), others[0])
    missing = (out[keys] == rows.loc[miss, keys]).all(axis=1)
    bad = pd.concat([out[~missing], rows.iloc[[dup]]], ignore_index=True)
    return bad, set(blame[dup] | blame[miss])


def check_one(spark, wl, work) -> str:
    from perfbench import checks
    from perfbench.probes import ProgressLog, SinkClock
    from perfbench.workloads import make_fixture, read_sinks

    fixture = make_fixture(7, TINY_FILES, TINY_ROWS)
    log = ProgressLog()
    spark.streams.addListener(log)
    try:
        with SinkClock(spark) as clock:
            passes = wl.run_passes(spark, fixture, work, 0, min_passes=1)
        bench.analyse(passes, log, clock)
    finally:
        spark.streams.removeListener(log)
    p = passes[0]
    sinks = read_sinks(spark, [p])[0]
    failed, detail = wl.check(p, sinks)
    if failed:
        return f"{wl.name}: clean output failed {sorted(failed)}: {detail}"

    name = p.queries[0].name
    out = sinks[name]
    if wl.name == "window_drain":
        keys = ["conv_id", "window_start"]
        src = p.source.assign(window_start=p.source["ts"].dt.floor("60s"))
        out = checks.as_us(out, ["window_start"])
    else:
        keys, src = checks.KEYS, p.source
    sinks[name], want = _inject(out, keys, checks.files_of(src, keys))
    got, detail = wl.check(p, sinks)
    if wl.name == "route_fanout":
        detail = detail[name]
    counts = (detail["duplicated"], detail["missing"])
    if got != want or counts != (1, 1):
        return (
            f"{wl.name}: injected faults gave failed files {sorted(got)} "
            f"(expected {sorted(want)}), dup/missing {counts}"
        )
    return ""


def main() -> int:
    bench.import_engine()
    from perfbench.workloads import WORKLOADS

    work = os.path.join(bench.STATE_DIR, f"selftest-{os.getpid()}")
    args = bench.parse_args(["--workload", "-", "--seed", "0", "--seconds", "0"])
    errors = []
    try:
        spark = bench.start_session(args, work, "perfbench-selftest")
        try:
            for name, wl in WORKLOADS.items():
                t0 = time.time()
                err = check_one(spark, wl, os.path.join(work, name))
                status = err or "catches one duplicate and one missing key"
                print(f"{name}: {status} ({time.time() - t0:.1f}s)")
                if err:
                    errors.append(err)
        finally:
            bench.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest " + ("FAILED" if errors else "passed"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
