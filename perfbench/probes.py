"""Measurement taken from outside the engine.

Everything here observes the program without changing what it does:

- ``ProgressLog`` is the benchmark's own ``StreamingQueryListener``; it
  keeps each ``StreamingQueryProgress`` record as parsed JSON.
- ``SinkClock`` wraps the public ``IdempotentKeyedSink.write_batch``
  method for the life of a ``with`` block, timing each call and, when
  asked, counting the Spark jobs and tasks of the calling query through
  ``SparkContext.statusTracker()`` keyed by the query's ``runId`` (the
  job group Structured Streaming sets for its own thread).
- ``MemorySampler`` samples the summed resident memory of this process
  and all of its descendants (the driver JVM and the Python workers),
  less the resident pages of the JVM's heap; ``live_heap_bytes`` gives
  the heap's live size after a full collection.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from dbus_spark.sinks import IdempotentKeyedSink

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_age_s() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class ProgressLog(StreamingQueryListener):
    """Every progress record of every query, in arrival order."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._records: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        rec = json.loads(event.progress.json)
        with self._lock:
            self._records.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def records(self, run_id: str) -> list[dict]:
        with self._lock:
            recs = [r for r in self._records if r["runId"] == run_id]
        return sorted(recs, key=lambda r: r["batchId"])

    def wait_for(self, run_id: str, n_batches: int, timeout_s: float = 30.0):
        """Block until ``n_batches`` records of ``run_id`` arrived: the
        listener bus is asynchronous, so the last records can trail the
        query's ``processAllAvailable``."""
        deadline = time.monotonic() + timeout_s
        while len(self.records(run_id)) < n_batches:
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"query {run_id}: {len(self.records(run_id))} of "
                    f"{n_batches} progress records after {timeout_s}s"
                )
            time.sleep(0.02)
        return self.records(run_id)


class SinkClock:
    """Times ``IdempotentKeyedSink.write_batch`` calls while active.

    ``writes[(sink_path, batch_id)]`` holds the call's ``start`` and
    ``end`` in ``time.time()`` seconds and, when ``count_jobs`` is set,
    the query's job ``group`` with the ``jobs`` it launched since its
    previous batch ended and their completed ``tasks``."""

    def __init__(self, spark, count_jobs: bool = False) -> None:
        self._sc = spark.sparkContext
        self.count_jobs = count_jobs
        self.writes: dict[tuple[str, int], dict] = {}
        self._seen_jobs: dict[str, set[int]] = {}
        self._lock = threading.Lock()
        self._orig = None

    def __enter__(self) -> "SinkClock":
        self._orig = orig = IdempotentKeyedSink.write_batch
        clock = self

        def timed_write_batch(sink, batch_df, batch_id):
            t0 = time.time()
            n = orig(sink, batch_df, batch_id)
            clock._record(sink.path, batch_id, t0, time.time())
            return n

        IdempotentKeyedSink.write_batch = timed_write_batch
        return self

    def __exit__(self, *exc) -> None:
        IdempotentKeyedSink.write_batch = self._orig

    def _record(self, path: str, batch_id: int, t0: float, t1: float):
        rec = {"start": t0, "end": t1}
        if self.count_jobs:
            group = self._sc.getLocalProperty("spark.jobGroup.id")
            rec["group"] = group
            rec["jobs"], rec["tasks"] = self._new_jobs(group)
        with self._lock:
            self.writes[(path, batch_id)] = rec

    def _new_jobs(self, group: str) -> tuple[int, int]:
        tracker = self._sc.statusTracker()
        ids = set(tracker.getJobIdsForGroup(group))
        with self._lock:
            new = ids - self._seen_jobs.get(group, set())
            self._seen_jobs[group] = ids
        tasks = 0
        for job_id in new:
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else []:
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(new), tasks


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        kids = children.get(pid, [])
        exe = _exe(pid) if kids else None
        if exe and os.path.basename(exe) == "java":
            # a JVM child still running the java binary is a spawn (of
            # chmod and the like) caught before its exec: it shares the
            # JVM's memory, so its RSS would count the JVM twice
            kids = [k for k in kids if _exe(k) != exe]
        todo.extend(kids)
    return out


def tree_pids() -> list[int]:
    """This process and every descendant of it."""
    return _tree_pids(os.getpid())


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            continue
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: on a shared host
    the steal share says how much CPU neighbours took from the run."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def heap_rss_bytes(pid: int, heap_bytes: int) -> int:
    """Resident bytes of the JVM's heap: its largest anonymous writable
    mapping, which for a heap committed in full (``-Xms`` equal to
    ``-Xmx``) spans all of the heap but at most a region or two."""
    size = rss = 0
    with open(f"/proc/{pid}/smaps") as f:
        for line in f:
            head = line.split()
            if "-" in head[0] and not head[0].endswith(":"):
                lo, hi = (int(x, 16) for x in head[0].split("-"))
                cand = hi - lo if len(head) == 5 and head[1] == "rw-p" else 0
            elif cand > size and head[0] == "Rss:":
                size, rss = cand, int(head[1]) * 1024
    if not 0.95 * heap_bytes <= size <= heap_bytes:
        raise RuntimeError(
            f"JVM {pid}: largest mapping {size} B is not the "
            f"{heap_bytes} B heap"
        )
    return rss


def live_heap_bytes(spark) -> int:
    """Heap in use right after a full collection of the driver JVM."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    return (
        jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        .getHeapMemoryUsage().getUsed()
    )


class MemorySampler:
    """Peak summed RSS of the process tree, less the JVM heap's resident
    pages, while the block runs."""

    def __init__(self, spark, interval_s: float = 0.1) -> None:
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.heap_bytes = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._error: Exception | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes() - heap_rss_bytes(self.jvm_pid, self.heap_bytes)
        self.peak_bytes = max(self.peak_bytes, rss)

    def _run(self) -> None:
        try:
            while True:
                self._sample()
                if self._stop.wait(self.interval_s):
                    return
        except Exception as e:  # raised again in __exit__
            self._error = e

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        if self._error is not None:
            raise self._error
        self._sample()
