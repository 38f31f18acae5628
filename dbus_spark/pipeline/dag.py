"""Pipeline: config dict → DataFrame DAG (the dbus engine analog).

Config shape = the reference's `plugins[]` sections
(reference: engine/engine.go:153-180,215-265):

    {"plugins": [
        {"name": "in1",  "class": "MemoryInput"},
        {"name": "rekey","class": "RekeyFilter",  "match": ["in1"],
         "options": {"ident_col": "db"}},
        {"name": "out1", "class": "MemoryOutput", "match": ["db1"]},
    ]}

Semantics re-created 1:1:

- plugins are classified Input/Filter/Output by class-name regex
  (reference: engine/global.go:18);
- duplicate plugin names are an error (engine/engine.go:226-229);
- a packet's ident defaults to its Input's name
  (engine/input.go:72-75); Filters may rewrite it (the 1→N
  demultiplex of MysqlbinlogFilter, plugins/filter/mysql/
  MysqlbinlogFilter.go:37-55);
- every emission is offered to every Filter/Output matcher that could
  accept it; a match routes a (shared, immutable) copy — refcount
  fan-out (engine/router.go:108-144) is free on immutable DataFrames.
  An emission whose ident the plan fixes (an Input's name, a filter's
  ``out_ident``) is offered only to matchers accepting that ident, so
  each routed output reads its source once;
- packets matching nothing are dropped (engine/router.go:135-140);
  ``Pipeline.unmatched()`` exposes them for the watchdog metric.

Filters are resolved in config order: a filter consumes emissions of
inputs and previously-declared filters (dbus configs are DAGs by
construction; the reference would livelock on a cycle, we raise).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbus_spark.pipeline.matcher import build_matcher, matches_ident
from dbus_spark.schema import IDENT_COL

# --- plugin registry (reference: engine/plugin.go:33-46) -------------

# class name → factory(options) -> plugin callable. Input factories
# return fn(spark, sources) -> DataFrame; Filter factories return
# fn(df) -> DataFrame; Output factories return fn(df, name) -> Any.
PLUGIN_REGISTRY: dict[str, Callable] = {}

_CLASS_RE = re.compile(r"(Input|Filter|Output)$")


def register_plugin(name: str, factory: Callable) -> None:
    """Register a plugin factory; duplicate registration is an error
    (the reference panics — engine/plugin.go:36-39)."""
    if name in PLUGIN_REGISTRY:
        raise ValueError(f"plugin already registered: {name}")
    if not _CLASS_RE.search(name):
        raise ValueError(
            f"plugin class {name!r} must end in Input/Filter/Output"
        )
    PLUGIN_REGISTRY[name] = factory


def _kind(class_name: str) -> str:
    m = _CLASS_RE.search(class_name)
    if not m:
        raise ValueError(f"cannot classify plugin class: {class_name}")
    return m.group(1)


# --- built-in plugins -------------------------------------------------


def _memory_input(options: dict) -> Callable:
    """Input whose DataFrame is handed in via Pipeline.run(sources=…)."""

    def fn(spark: SparkSession, sources: dict[str, DataFrame], name: str):
        try:
            return sources[options.get("source", name)]
        except KeyError as e:
            raise KeyError(
                f"MemoryInput {name!r}: no DataFrame provided in sources"
            ) from e

    return fn


def _parquet_input(options: dict) -> Callable:
    def fn(spark, sources, name):
        return spark.read.parquet(options["path"])

    return fn


def _mock_input(options: dict) -> Callable:
    """Synthetic load generator (the MockInput analog — etc/mock.cf)."""

    def fn(spark, sources, name):
        n = int(options.get("rows", 1000))
        return spark.range(n).select(
            F.col("id").alias("seq"),
            F.lit(options.get("payload", "RowsEvent")).alias("payload"),
        )

    return fn


def _file_stream_input(options: dict) -> Callable:
    """Streaming file source (StreamInput/tail analog + the transcript
    replay source); rate-limited via maxFilesPerTrigger — the
    backpressure knob replacing the reference's bounded channels."""

    def fn(spark, sources, name):
        from dbus_spark.sources.stream import transcript_file_stream

        return transcript_file_stream(
            spark,
            options["path"],
            max_files_per_trigger=int(
                options.get("max_files_per_trigger", 1)
            ),
        )

    return fn


def _rate_input(options: dict) -> Callable:
    """Unbounded synthetic source (MockInput dryrun analog)."""

    def fn(spark, sources, name):
        return (
            spark.readStream.format("rate")
            .option(
                "rowsPerSecond", int(options.get("rows_per_second", 10000))
            )
            .load()
        )

    return fn


def _http_input(options: dict) -> Callable:
    """HTTPInput analog (reference: plugins/input/http/HTTPInput.go:
    18-71): a drop-zone directory stands in for the POST endpoint —
    ``sources.dropzone.post_payload`` is the push side, this factory
    the listener. The reference's own payload handler is an empty stub
    (handler.go:7-8), so 'payload in → packet out' is the whole
    contract."""

    def fn(spark, sources, name):
        from dbus_spark.sources.dropzone import dropzone_stream

        return dropzone_stream(
            spark,
            options["path"],
            schema=options.get("schema"),
            max_files_per_trigger=int(
                options.get("max_files_per_trigger", 10)
            ),
        )

    return fn


def _kafka_input(options: dict) -> Callable:
    """KafkaInput analog: one line of Spark replaces the reference's
    consumer group machinery (pkg/kafka/consumer.go:22-145); offsets,
    rebalance and resume are native. DSN form kept for config parity."""

    def fn(spark, sources, name):
        from dbus_spark.functions import parse_kafka_dsn

        dsn = parse_kafka_dsn(options["dsn"])
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", options["servers"])
            .option("subscribe", dsn.topic)
        )
        if "max_offsets_per_trigger" in options:
            reader = reader.option(
                "maxOffsetsPerTrigger", options["max_offsets_per_trigger"]
            )
        return reader.load()

    return fn


def _rekey_filter(options: dict) -> Callable:
    """ident := <column> — the MysqlbinlogFilter demultiplex."""
    col = options["ident_col"]

    def fn(df: DataFrame) -> DataFrame:
        return df.withColumn(IDENT_COL, F.col(col).cast("string"))

    return fn


def _restamp(df: DataFrame, options: dict) -> DataFrame:
    """Filters may rewrite the routing key (`out_ident`), like dbus
    filters stamping a new Ident on emitted packets — without it a
    filter's emission keeps matching the same matchers that fed it."""
    if "out_ident" in options:
        return df.withColumn(IDENT_COL, F.lit(options["out_ident"]))
    return df


def _predicate_filter(options: dict) -> Callable:
    """Keep rows satisfying a SQL predicate (TODO.md 'filter' op)."""
    where = options["where"]

    def fn(df: DataFrame) -> DataFrame:
        return _restamp(df.filter(where), options)

    return fn


def _regex_filter(options: dict) -> Callable:
    """Keep rows whose column matches a regex (TODO.md 'regex' op)."""
    col, pattern = options["col"], options["pattern"]

    def fn(df: DataFrame) -> DataFrame:
        return _restamp(df.filter(F.col(col).rlike(pattern)), options)

    return fn


def _rename_filter(options: dict) -> Callable:
    """Rename columns (TODO.md 'rename' op)."""
    mapping: dict[str, str] = options["mapping"]

    def fn(df: DataFrame) -> DataFrame:
        for old, new in mapping.items():
            df = df.withColumnRenamed(old, new)
        return _restamp(df, options)

    return fn


def _split_filter(options: dict) -> Callable:
    """Split a string column into an array (TODO.md 'split' op)."""
    col = options["col"]
    sep = options.get("sep", r"\s+")
    out = options.get("out", f"{col}_parts")

    def fn(df: DataFrame) -> DataFrame:
        return _restamp(df.withColumn(out, F.split(F.col(col), sep)), options)

    return fn


def _count_filter(options: dict) -> Callable:
    """Count rows per group (TODO.md 'count' op)."""
    by = options.get("by", [IDENT_COL])

    def fn(df: DataFrame) -> DataFrame:
        return _restamp(
            df.groupBy(*by).agg(F.count("*").alias("n")), options
        )

    return fn


def _sort_filter(options: dict) -> Callable:
    """Sort rows (TODO.md 'sort' op). NB: a global sort is a range
    shuffle — at scale prefer sortWithinPartitions (within=True)."""
    by = options["by"]
    within = bool(options.get("within_partitions", False))

    def fn(df: DataFrame) -> DataFrame:
        out = df.sortWithinPartitions(*by) if within else df.orderBy(*by)
        return _restamp(out, options)

    return fn


def _passthrough_filter(options: dict) -> Callable:
    """MockFilter analog: identity transform."""
    return lambda df: df


def _memory_output(options: dict) -> Callable:
    """Return the routed DataFrame (test sink)."""
    return lambda df, name: df


def _noop_output(options: dict) -> Callable:
    """Blackhole sink (MockOutput blackhole:true) — forces evaluation."""

    def fn(df: DataFrame, name: str):
        return df.write.format("noop").mode("overwrite").save()

    return fn


def _parquet_output(options: dict) -> Callable:
    path = options["path"]
    mode = options.get("mode", "overwrite")

    def fn(df: DataFrame, name: str):
        df.write.mode(mode).parquet(path)
        return path

    return fn


def _idempotent_sink(options: dict):
    """The ``IdempotentKeyedSink`` an ``IdempotentOutput``'s options
    describe — the one reading of ``path``/``keys``/``dedup_mode``/
    ``track_counts`` for the batch and the stream output."""
    from dbus_spark.sinks import IdempotentKeyedSink

    return IdempotentKeyedSink(
        options["path"],
        keys=options.get("keys", ["conv_id", "turn_idx"]),
        dedup_mode=options.get("dedup_mode", "anti_join"),
        track_counts=bool(options.get("track_counts", True)),
    )


def _idempotent_output(options: dict) -> Callable:
    """Batch form of the exactly-once keyed sink."""

    def fn(df: DataFrame, name: str):
        return _idempotent_sink(options).write_batch(
            df, int(options.get("batch_id", 0))
        )

    return fn


def _kafka_output(options: dict) -> Callable:
    """KafkaOutput analog, the write side of a Kafka mirror: the
    routed rows go to ``topic`` on ``servers`` (the stream sink's
    options). Needs the Kafka connector on the classpath, and a
    ``value`` column (``key`` optional), as Spark's Kafka writer
    does."""

    def fn(df: DataFrame, name: str):
        (
            df.write.format("kafka")
            .option("kafka.bootstrap.servers", options["servers"])
            .option("topic", options["topic"])
            .save()
        )

    return fn


def _subprocess_output(options: dict) -> Callable:
    """StreamOutput analog (reference README.md:120-125: pipe packets
    to an external consumer process): rows stream to ``cmd``'s stdin
    as JSON lines (encoded JVM-side via ``toJSON`` — python only moves
    bytes).

    ``scope``:
    - ``"driver"`` (default — faithful to the single-node reference):
      one consumer process on the driver; ``toLocalIterator`` pulls one
      partition at a time, so driver memory stays partition-bounded,
      but the pipe is a single point.
    - ``"executor"`` — the cluster form: one consumer process PER
      PARTITION via ``foreachPartition``, each writing to
      ``stdout_dir/part-<id>`` (the consumer binary must exist on every
      worker). Throughput scales with executors; no driver data path.
    """
    cmd = options["cmd"]  # e.g. ["cat"], ["gzip", "-c"], a consumer bin
    scope = options.get("scope", "driver")
    if scope not in ("driver", "executor"):
        raise ValueError(f"SubprocessOutput scope must be driver|executor: {scope}")

    def _pipe(lines, proc) -> tuple[int, bool]:
        """Returns (rows written, pipe broke early). A broken pipe is
        surfaced to the caller even when the consumer exits 0 — a
        consumer that stops reading (e.g. ``head``) and exits cleanly
        would otherwise turn silent data truncation into 'success'."""
        n = 0
        try:
            for line in lines:
                proc.stdin.write(line.encode("utf-8") + b"\n")
                n += 1
            proc.stdin.close()
        except BrokenPipeError:
            return n, True
        return n, False

    def fn(df: DataFrame, name: str):
        import subprocess

        if scope == "driver":
            stdout_path = options.get("stdout")
            out_f = (
                open(stdout_path, "wb") if stdout_path else subprocess.DEVNULL
            )
            try:
                proc = subprocess.Popen(
                    cmd, stdin=subprocess.PIPE, stdout=out_f
                )
                n, broke = _pipe(df.toJSON().toLocalIterator(), proc)
                rc = proc.wait()
                if rc != 0:
                    raise RuntimeError(
                        f"SubprocessOutput {name!r}: {cmd} exited {rc}"
                    )
                if broke:
                    raise RuntimeError(
                        f"SubprocessOutput {name!r}: {cmd} closed stdin "
                        f"after {n} rows with more remaining — "
                        "refusing to report truncated delivery as success"
                    )
                return n
            finally:
                if stdout_path:
                    out_f.close()

        stdout_dir = options.get("stdout_dir")

        def run_partition(lines):
            import os
            import subprocess as sp

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            out_f = (
                open(os.path.join(stdout_dir, f"part-{pid:05d}"), "wb")
                if stdout_dir
                else sp.DEVNULL
            )
            try:
                proc = sp.Popen(cmd, stdin=sp.PIPE, stdout=out_f)
                n, broke = _pipe(lines, proc)
                rc = proc.wait()
                if rc != 0:
                    raise RuntimeError(
                        f"SubprocessOutput partition {pid}: {cmd} exited {rc}"
                    )
                if broke:
                    raise RuntimeError(
                        f"SubprocessOutput partition {pid}: {cmd} closed "
                        f"stdin after {n} rows with more remaining"
                    )
            finally:
                if stdout_dir:
                    out_f.close()

        df.toJSON().foreachPartition(run_partition)
        return None  # counts live with the consumer in executor scope

    return fn


for _name, _factory in [
    ("MemoryInput", _memory_input),
    ("ParquetInput", _parquet_input),
    ("MockInput", _mock_input),
    ("FileStreamInput", _file_stream_input),
    ("HTTPInput", _http_input),
    ("RateInput", _rate_input),
    ("KafkaInput", _kafka_input),
    ("IdempotentOutput", _idempotent_output),
    ("KafkaOutput", _kafka_output),
    ("RekeyFilter", _rekey_filter),
    ("PredicateFilter", _predicate_filter),
    ("RegexFilter", _regex_filter),
    ("RenameFilter", _rename_filter),
    ("SplitFilter", _split_filter),
    ("CountFilter", _count_filter),
    ("SortFilter", _sort_filter),
    ("MockFilter", _passthrough_filter),
    ("MemoryOutput", _memory_output),
    ("NoopOutput", _noop_output),
    ("ParquetOutput", _parquet_output),
    ("SubprocessOutput", _subprocess_output),
]:
    register_plugin(_name, _factory)

# filters that stamp ``out_ident`` on every row they emit (_restamp)
_RESTAMPING = frozenset({
    "PredicateFilter", "RegexFilter", "RenameFilter", "SplitFilter",
    "CountFilter", "SortFilter",
})


# --- the DAG ----------------------------------------------------------


@dataclass
class _Plugin:
    name: str
    class_name: str
    kind: str
    matches: list[str]
    options: dict
    impl: Callable = field(repr=False, default=None)


def _static_ident(p: _Plugin, carries_ident: bool = False) -> str | None:
    """The ident the plan stamps on every row ``p`` emits, or None when
    its rows carry their own (dynamic) idents.

    An Input's rows get its name (input.go:72-75) unless its frame
    brings an ``ident`` column (``carries_ident``); a restamping filter's
    rows get its ``out_ident``. RekeyFilter, MockFilter, a restamping
    filter without ``out_ident`` and any custom filter are dynamic."""
    if p.kind == "Input":
        return None if carries_ident else p.name
    if p.class_name in _RESTAMPING:
        return p.options.get("out_ident")
    return None


class Pipeline:
    """A declarative databus DAG over DataFrames."""

    def __init__(self, config: dict):
        self.plugins: dict[str, _Plugin] = {}
        for section in config["plugins"]:
            name = section["name"]
            if name in self.plugins:
                # reference panics on duplicate names (engine.go:226-229)
                raise ValueError(f"duplicate plugin name: {name}")
            cls = section["class"]
            if cls not in PLUGIN_REGISTRY:
                raise ValueError(f"unknown plugin class: {cls}")
            kind = _kind(cls)
            p = _Plugin(
                name=name,
                class_name=cls,
                kind=kind,
                matches=list(section.get("match", [])),
                options=dict(section.get("options", {})),
            )
            p.impl = PLUGIN_REGISTRY[cls](p.options)
            self.plugins[name] = p
        if not any(p.kind == "Input" for p in self.plugins.values()):
            raise ValueError("pipeline needs at least one Input")

    # -- plan construction --------------------------------------------

    def _producers(self) -> list[_Plugin]:
        """Inputs, then Filters, each in config order — the order
        emissions are built and offered in."""
        ps = list(self.plugins.values())
        return [p for p in ps if p.kind == "Input"] + [
            p for p in ps if p.kind == "Filter"
        ]

    def _upstream(
        self, consumer: _Plugin, static: dict[str, str | None]
    ) -> tuple[list[str], list[str]]:
        """(every producer ``consumer`` sees, those it is offered).

        ``static`` maps producer name → static ident in
        :meth:`_producers` order; a Filter sees only the producers
        before it (config order), an Output sees them all. A producer
        is offered unless the matcher is empty or rejects its static
        ident — the plan-time form of the router's per-packet match
        (router.go:117-133)."""
        names = list(static)
        if consumer.name in static:
            names = names[: names.index(consumer.name)]
        offered = [
            n
            for n in names
            if consumer.matches
            and (static[n] is None or matches_ident(consumer.matches, static[n]))
        ]
        return names, offered

    def _emissions(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame] | None,
        prune: bool = True,
    ) -> tuple[dict[str, DataFrame], dict[str, str | None]]:
        """Emitted stream of every Input and Filter, ident attached, and
        each one's static ident (all None when not pruning, so every
        producer is offered to every matcher)."""
        sources = sources or {}
        emitted: dict[str, DataFrame] = {}
        static: dict[str, str | None] = {}
        for p in self._producers():
            if p.kind == "Input":
                df = p.impl(spark, sources, p.name)
                ident = _static_ident(p, IDENT_COL in df.columns)
                if ident is not None:
                    df = df.withColumn(IDENT_COL, F.lit(ident))
            else:
                # each filter sees inputs + earlier filters
                df = p.impl(self._route_into(p, emitted, static))
                ident = _static_ident(p)
            emitted[p.name] = df
            static[p.name] = ident if prune else None
        return emitted, static

    @staticmethod
    def _union(dfs: list[DataFrame]) -> DataFrame:
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
        )

    def _route_into(
        self,
        consumer: _Plugin,
        emitted: dict[str, DataFrame],
        static: dict[str, str | None],
    ) -> DataFrame:
        """Union of upstream emissions this consumer's matcher accepts.

        Routing is value-based: the predicate runs on the ident COLUMN,
        so a RekeyFilter's dynamic idents route correctly. A producer
        whose static ident the matcher rejects is not offered at all
        (:meth:`_upstream`): streaming plans skip Catalyst's
        PruneFilters, so its always-false branch would still scan the
        whole source every micro-batch. The result keeps the columns,
        order and types of the union of every upstream, so pruning
        changes no schema; when nothing can match, that (empty) union
        is the result.
        """
        pred = build_matcher(consumer.matches)
        names, offered = self._upstream(consumer, static)
        if not offered:  # nothing can match: the empty unpruned union
            offered = names
        routed = self._union([emitted[n].filter(pred) for n in offered])
        if len(offered) == len(names) or 1 == len(
            {tuple((f.name, f.dataType) for f in emitted[n].schema) for n in names}
        ):
            return routed
        # a pruned producer had columns or types of its own
        full = self._union([emitted[n].filter(pred) for n in names])
        return routed.select(
            *[
                (F.col(f.name) if f.name in routed.columns else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in full.schema
            ]
        )

    # -- execution ------------------------------------------------------

    def outputs(
        self, spark: SparkSession, sources: dict[str, DataFrame] | None = None
    ) -> dict[str, DataFrame]:
        """Routed DataFrame per Output plugin (the lazily-planned DAG)."""
        return self._outputs(spark, sources, prune=True)

    def _outputs(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame] | None,
        prune: bool,
    ) -> dict[str, DataFrame]:
        """``prune=False`` offers every emission to every matcher: the
        plan shape that checkpoints written before route pruning
        record."""
        emitted, static = self._emissions(spark, sources, prune)
        return {
            p.name: self._route_into(p, emitted, static)
            for p in self.plugins.values()
            if p.kind == "Output"
        }

    def run(
        self, spark: SparkSession, sources: dict[str, DataFrame] | None = None
    ) -> dict[str, object]:
        """Materialize every Output through its sink impl."""
        return {
            name: self.plugins[name].impl(df, name)
            for name, df in self.outputs(spark, sources).items()
        }

    def to_dot(self) -> str:
        """Graphviz dot of the plugin DAG (engine/diagram.go:10-67
        analog). Edges are the offers routing makes (:meth:`_upstream`);
        with no frames to look at, every Input is drawn as stamping its
        own name (value-level routing stays dynamic)."""
        lines = ["digraph pipeline {", "  rankdir=LR;"]
        shapes = {"Input": "box", "Filter": "ellipse", "Output": "cds"}
        for p in self.plugins.values():
            lines.append(
                f'  "{p.name}" [shape={shapes[p.kind]} '
                f'label="{p.name}\\n{p.class_name}"];'
            )
        static = {p.name: _static_ident(p) for p in self._producers()}
        for c in self.plugins.values():
            if c.kind == "Input":
                continue
            for prod in self._upstream(c, static)[1]:
                lines.append(f'  "{prod}" -> "{c.name}";')
        lines.append("}")
        return "\n".join(lines)

    def unmatched(
        self, spark: SparkSession, sources: dict[str, DataFrame] | None = None
    ) -> DataFrame:
        """Rows no Filter/Output matcher accepts — the reference logs
        and recycles these (router.go:135-140); we expose them as a
        DataFrame for the watchdog metric. A row counts as matched only
        by a consumer it is offered to (:meth:`_upstream`)."""
        emitted, static = self._emissions(spark, sources)
        offers = {
            c.name: self._upstream(c, static)[1]
            for c in self.plugins.values()
            if c.kind in ("Filter", "Output")
        }
        parts = []
        for name, df in emitted.items():
            preds = [
                build_matcher(self.plugins[c].matches)
                for c, offered in offers.items()
                if name in offered
            ]
            if preds:
                parts.append(df.filter(~reduce(lambda a, b: a | b, preds)))
            else:
                parts.append(df)
        return self._union(parts)
