"""Physical-plan hygiene: the properties that decide 100 TB behavior.

These assert on .explain output, not results: filters reach the
parquet scan (PushedFilters), projections prune columns (ReadSchema),
small join sides broadcast, and the salted aggregation really is a
two-shuffle plan."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_route_filter_pushdown(spark):
    """The routing predicate must reach the scan — the reference does
    this by hand inside the source (pkg/myslave/predicate.go); for us
    Catalyst pushes the matcher predicate into parquet."""
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    routed = events.withColumn("ident", F.col("event_type")).filter(
        F.col("ident").isin("click", "purchase")
    )
    plan = _plan(routed.select("event_id", "ident"))
    assert "PushedFilters: [In(event_type" in plan


def test_column_pruning_reaches_scan(spark):
    q = entrymod.queries()["doc_token_count"](spark, SF_DIR)
    plan = _plan(q)
    # only doc_id + text are read, not lang/source/n_chars
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_new_ops_prune_their_scans(spark):
    """Round-2 operators keep the pruning discipline: scans read only
    the columns the query touches."""
    cases = {
        "doc_winnow": "ReadSchema: struct<doc_id:bigint,text:string>",
        "doc_token_bpe": "ReadSchema: struct<doc_id:bigint,text:string>",
        "doc_simhash_neardup": (
            "ReadSchema: struct<doc_id:bigint,text:string>"
        ),
    }
    for name, expected in cases.items():
        plan = _plan(entrymod.queries()[name](spark, SF_DIR))
        assert expected in plan, f"{name} over-reads its scan"
    # dim_enrich: the orders fact scan must not read the unused cols
    plan = _plan(entrymod.queries()["dim_enrich"](spark, SF_DIR))
    assert "o_orderstatus" not in plan
    assert "o_orderdate" not in plan


def test_knn_broadcasts_query_side(spark):
    q = entrymod.queries()["emb_knn"](spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_salted_agg_is_two_phase(spark):
    """partial agg on (key, salt) then merge on (key): the plan must
    contain two distinct hash aggregations with an exchange between."""
    q = entrymod.queries()["tumbling_window_salted"](spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("HashAggregate") >= 4  # 2 logical aggs x partial/final
    assert plan.count("Exchange") >= 2  # shuffle on (key,salt), then (key)
    assert "xxhash64" in plan  # the deterministic salt expression


def test_neardup_lsh_not_cartesian(spark):
    """The LSH near-dup path must be a bucket join + verify joins —
    no all-pairs CartesianProduct anywhere in the plan (the scale gap
    flagged on neardup_pairs in round 1)."""
    q = entrymod.queries()["emb_neardup_lsh"](spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_neardup_lsh_recall_vs_bruteforce(spark):
    """Measured recall of the LSH path against the exact pair set at
    the test scale — documents the approximation honestly (the oracle
    checks value-exactness of the implemented semantics; this checks
    how much of the brute-force answer the defaults recover)."""
    exact = set(
        (r.id_a, r.id_b)
        for r in entrymod.queries()["emb_neardup"](spark, SF_DIR).collect()
    )
    approx = set(
        (r.id_a, r.id_b)
        for r in entrymod.queries()["emb_neardup_lsh"](spark, SF_DIR).collect()
    )
    assert approx <= exact  # no false positives: candidates are verified
    assert len(approx) >= 0.5 * len(exact)  # recall floor at θ≈66°


def test_trained_ivf_recall_at_least_seeded(spark):
    """The k-means pass must buy recall: knn_ivf with trained centroids
    recovers at least as much of the brute-force top-k as the seeded
    stand-ins do (measured 0.60 vs 0.47 on the fixture)."""
    import __spark_entry__ as em

    def pairs(df):
        return {(r.q_id, r.n_id) for r in df.collect()}

    bf = pairs(em.queries()["emb_knn"](spark, SF_DIR))
    seeded = pairs(em.queries()["emb_knn_ivf"](spark, SF_DIR))
    trained = pairs(em.queries()["emb_knn_ivf_trained"](spark, SF_DIR))
    assert len(trained & bf) >= len(seeded & bf)
    assert len(trained & bf) >= 0.5 * len(bf)


def test_kmeans_spark_matches_local_replica_and_roundtrips(spark, tmp_path):
    """The distributed trainer and the numpy replica must produce
    IDENTICAL centroids (the 6-decimal rounding protocol) — this is
    what lets the DuckDB oracle inline trained centroids — and the
    persisted form must reload bit-exactly."""
    import numpy as np
    import pandas as pd

    from dbus_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cs = S.kmeans_centroids(emb, dim=64, n_centroids=16, seed=11, n_iter=5)
    V = np.stack(
        pd.read_parquet(f"{SF_DIR}/embeddings.parquet")["embedding"].to_numpy()
    )
    cl = S.kmeans_centroids_local(V, n_centroids=16, seed=11, n_iter=5)
    assert cs == cl
    p = str(tmp_path / "cents.json")
    S.save_centroids(cs, p)
    assert S.load_centroids(p) == cs


def test_kmeans_size_probe_picks_the_path_at_the_threshold(
    spark, monkeypatch
):
    """The strategy probe counts at most ``threshold + 1`` rows: a
    table of exactly ``threshold`` rows trains on the driver, one row
    more trains distributed, and both give the replica's centroids."""
    import numpy as np
    import pandas as pd

    from dbus_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    n = len(pdf)
    cl = S.kmeans_centroids_local(
        np.stack(pdf["embedding"].to_numpy()), n_centroids=8, n_iter=2
    )
    local_calls = []
    replica = S.kmeans_centroids_local
    monkeypatch.setattr(
        S,
        "kmeans_centroids_local",
        lambda *a, **k: local_calls.append(1) or replica(*a, **k),
    )
    for threshold, on_driver in ((n, True), (n - 1, False)):
        del local_calls[:]
        cs = S.kmeans_centroids(
            emb, dim=64, n_centroids=8, n_iter=2,
            small_input_threshold=threshold,
        )
        assert bool(local_calls) == on_driver
        assert cs == cl


def test_knn_ivf_probe_join_shape(spark):
    """IVF ANN: the probe side must broadcast and the candidate join
    must be on the cell key — never an all-pairs product."""
    q = entrymod.queries()["emb_knn_ivf"](spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" in plan  # tiny probe side broadcasts


def test_dim_enrich_broadcasts_dimension_chain(spark):
    """The star join must broadcast the (small) dim side: the fact
    scan shuffles only for the final rollup, never for the join."""
    q = entrymod.queries()["dim_enrich"](spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # no fact-side join shuffle


def test_interval_join_not_cartesian(spark):
    q = entrymod.queries()["interval_join"](spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_on_scalar_surface(spark):
    q = entrymod.queries()["event_json"](spark, SF_DIR)
    plan = _plan(q)
    # formatted plans mark codegen'd operators with a leading '*'
    assert "* Project" in plan or "WholeStageCodegen" in plan


def test_streaming_plan_has_watermark_and_state(spark, tmp_path):
    from dbus_spark.datagen import generate_transcripts, write_stream_batches
    from dbus_spark.operators import windowed_agg
    from dbus_spark.sources import transcript_file_stream

    pdf = generate_transcripts(n_convs=5, seed=1)
    write_stream_batches(pdf, str(tmp_path / "in"), n_files=1)
    src = transcript_file_stream(spark, str(tmp_path / "in"), 1)
    agg = windowed_agg(
        src, "1 minute", aggs={"n": F.count("*")},
        keys=["conv_id"], watermark="10 minutes",
    )
    # streaming plans surface via the logical plan string
    s = agg._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in s


def test_asof_join_is_joinless_single_shuffle(spark):
    """The as-of join must plan as union + window — NO join operator
    (a range join's candidate set explodes with right-side density;
    the carry formulation shuffles each row exactly once)."""
    q = entrymod.queries()["asof_attribution"](spark, SF_DIR)
    plan = _plan(q)
    assert "Join" not in plan  # no SortMergeJoin/BroadcastHashJoin/...
    assert "Window" in plan


def test_blocked_simhash_full_recall_and_shape(spark):
    """The pigeonhole construction must (a) plan as a bucket join, no
    all-pairs product, and (b) dominate the single-prefix variant's
    recall (it provably equals the brute-force hamming ball — the
    oracle pins that; here we pin the superset relation)."""
    q = entrymod.queries()["doc_simhash_neardup_full"](spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    full = {(r.id_a, r.id_b) for r in q.collect()}
    single = {
        (r.id_a, r.id_b)
        for r in entrymod.queries()["doc_simhash_neardup"](
            spark, SF_DIR
        ).collect()
    }
    assert single <= full
    assert len(full) > len(single)  # the single-prefix variant misses some


def test_srp_projections_are_vectorized_not_literal_folds(spark):
    """Round-3 fix pinned: SRP/IVF bucketing must run as Arrow UDF
    batches (ArrowEvalPython), and the plan must not embed per-plane
    literal arrays (whose expression-tree size grows with dim x planes
    and whose HOF folds evaluate interpreted)."""
    for name in ("emb_neardup_lsh", "emb_knn_ivf"):
        q = entrymod.queries()[name](spark, SF_DIR)
        plan = _plan(q)
        assert "ArrowEvalPython" in plan, f"{name}: projections left Python"
        # the old implementation embedded 8x64 doubles as literals,
        # blowing the formatted plan to ~100kB; vectorized stays small
        assert len(plan) < 40_000, f"{name}: plan bloated ({len(plan)} chars)"


def test_kmeanspp_init_spark_matches_local_and_lifts_recall(spark):
    """Deterministic farthest-point init: the distributed candidate
    scan and the numpy replica choose identical centroids, and the
    kpp-initialized trainer's recall (0.73 on the fixture) beats the
    seeded-init trainer's (0.60)."""
    import numpy as np
    import pandas as pd

    from dbus_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    V = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    # 32 partitions: the cross-partition candidate merge (per-
    # partition top-take -> driver top-take) is genuinely exercised
    cs = S.kmeans_centroids(
        emb.repartition(32), dim=64, n_centroids=16, n_iter=5, init="kpp"
    )
    cl = S.kmeans_centroids_local(V, n_centroids=16, n_iter=5, init="kpp", ids=ids)
    assert cs == cl

    def pairs(df):
        return {(r.q_id, r.n_id) for r in df.collect()}

    emb32 = emb.repartition(32)
    bf = pairs(S.knn_bruteforce(emb32, query_ids=[0, 1, 2, 3, 4], k=3))
    seeded_cents = S.kmeans_centroids(emb, dim=64, n_iter=5)
    r_seed = len(pairs(S.knn_ivf(emb32, query_ids=[0, 1, 2, 3, 4], dim=64, k=3, centroids=seeded_cents)) & bf)
    r_kpp = len(pairs(S.knn_ivf(emb32, query_ids=[0, 1, 2, 3, 4], dim=64, k=3, centroids=cs)) & bf)
    assert r_kpp >= r_seed


def test_gopher_and_repetition_plan_shapes(spark):
    """gopher_quality must stay map-side (no Exchange: one codegen'd
    pass per doc); repetition_metrics is two combiner-friendly
    aggregations, never a pair join."""
    g = entrymod.queries()["doc_gopher_quality"](spark, SF_DIR)
    gplan = _plan(g)
    # the only exchange allowed is the _docs() repartition policy knob
    # (each physical node appears as a "+- Name"/"Name (" tree line
    # plus a numbered detail header — count tree lines only)
    assert gplan.count("+- Exchange") <= 1
    assert "Join" not in gplan
    r = entrymod.queries()["doc_repetition"](spark, SF_DIR)
    rplan = _plan(r)
    assert "CartesianProduct" not in rplan
    # r7: one map-side Arrow pass — every gram lives in its doc's own
    # row, so there is no gram shuffle, no aggregation pair, no join
    # (was: 6 exchanges + a doc-keyed join of two aggregation trees)
    assert "MapInPandas" in rplan
    assert "Join" not in rplan
    assert rplan.count("+- Exchange") <= 1  # the _docs() policy knob


def test_q3_filters_push_below_joins(spark):
    """The selective predicates must reach their parquet scans below
    the joins (classic pushdown-through-join), and the anti-join must
    plan as a hash anti join, not a per-row subquery."""
    q = entrymod.queries()["tpch_q3_lite"](spark, SF_DIR)
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "o_orderdate" in plan and "l_shipdate" in plan
    a = entrymod.queries()["customers_no_big_orders"](spark, SF_DIR)
    aplan = _plan(a)
    assert "LeftAnti" in aplan


def test_neardup_ivf_plan_bounded(spark):
    """The IVF near-dup path must share the SRP path's scale shape:
    Arrow-vectorized centroid dots (no literal-plane folds), cell-join
    candidates — never an all-pairs CartesianProduct."""
    q = entrymod.queries()["emb_neardup_ivf"](spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan
    assert len(plan) < 40_000, f"plan bloated ({len(plan)} chars)"


def test_tfidf_single_corpus_scan(spark):
    """VERDICT r4 #4: tfidf_topk's tf and idf branches must both read
    ONE cached tokenized projection — no second tokenization pass, no
    parquet text scan outside the cache-build lineage. Since r7 the
    operator returns an eagerly-materialized (localCheckpoint) frame
    and RELEASES the token cache, so the single-scan property is
    asserted on the lineage (the returned plan is the checkpoint scan)
    plus the no-leak guarantee: no persisted RDD survives the call."""
    from dbus_spark.operators.text import tfidf_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    out = tfidf_topk(docs, k=5)
    plan = _plan(out)
    # the result is already materialized — downstream consumers never
    # re-run the corpus scan at all
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan and "FileScan" not in plan
    # and the shared token cache was released (leak discipline): the
    # only surviving entry is the checkpoint's own reference-tracked
    # block (GC-cleaned with the frame), never the token projection
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert len(after - before) <= 1, f"leaked cached RDDs: {after - before}"


def test_cep_sequence_single_shuffle_no_join(spark):
    """match_sequence must be one hash-partition on the key feeding a
    single Window node — no self-join, no candidate explosion: cost
    O(rows) regardless of match density (the property that lets the
    same pattern query run on 10^12 turns)."""
    q = entrymod.queries()["cep_sequence"](spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("hashpartitioning(user_id") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan
    # the pattern predicates are plain codegen'd comparisons
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cep_runs_reuses_partitioning(spark):
    """Gaps-and-islands needs two window functions and a hash-agg, but
    they are all keyed by user_id (or a superset): ONE exchange total —
    the second Window and the aggregation reuse the first shuffle's
    partitioning (only a re-sort between them)."""
    q = entrymod.queries()["cep_runs"](spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("Exchange") <= 2  # node header + detail line
    assert plan.count("hashpartitioning(user_id") == 1
    assert "partial_count" in plan  # map-side combine before the agg


def test_cep_absence_no_antijoin(spark):
    """match_absence must be the running-min-over-reversed-order
    window, not a NOT-EXISTS anti-join: one shuffle on the key, no
    join node, no per-row range probe."""
    q = entrymod.queries()["cep_absence"](spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("hashpartitioning(user_id") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_cep_quantified_single_partitioning_no_join(spark):
    """Run contraction (two windows + island agg) and the run-level
    lead() window all cluster by user_id or a superset of it: ONE
    hash-partition exchange end-to-end, no join — event cost stays
    O(rows) at any match density."""
    q = entrymod.queries()["cep_quantified"](spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("hashpartitioning(user_id") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_semdedup_no_cartesian_cell_keyed(spark):
    """SemDeDup's only pair join must key on the cell — a cartesian
    (or broadcast-nested-loop) pair plan is the O(n²) failure mode
    the clustering exists to prevent."""
    q = entrymod.queries()["emb_semdedup"](spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shard_plan_one_window_no_global_sort(spark):
    """The shard cut is ONE stratum-partitioned window — per-language
    cumsum, no global ordering bottleneck."""
    q = entrymod.queries()["doc_shard_plan"](spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("Window") >= 1
    # the only exchange is the window's hashpartitioning on the
    # stratum; a rangepartitioning exchange would mean a global sort
    assert "rangepartitioning" not in plan.lower()


def test_doc_logppl_single_corpus_scan(spark):
    """The exploded (doc, token) projection is persisted and feeds
    both the LM counts and the per-doc rollup — the text column is
    read from parquet once (same contract as tfidf_topk). Asserted on
    the lazy (materialize=False) form: the default return is an
    eagerly-checkpointed frame whose plan is the checkpoint scan."""
    from dbus_spark.operators.text import doc_logppl

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(doc_logppl(docs, materialize=False))
    assert "InMemoryTableScan" in plan


def test_dsir_single_raw_corpus_scan(spark):
    """dsir_logratio persists the raw-corpus explode and feeds both
    the raw LM and the rollup from it — the raw text column must not
    be re-scanned (same single-pass contract as tfidf/logppl).
    Asserted on the lazy (materialize=False) form."""
    from pyspark.sql import functions as F

    from dbus_spark.operators.text import dsir_logratio

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    target = docs.filter(F.col("lang") == "en")
    plan = _plan(dsir_logratio(docs, target, materialize=False))
    assert "InMemoryTableScan" in plan


def test_dsir_hashed_lms_broadcast(spark):
    """The hashed arm's two LMs are bounded at n_buckets rows by
    construction, so both join the exploded feature stream as
    BroadcastHashJoins — a shuffle join there would hash-exchange the
    full per-feature stream twice at 100 TB. Asserted on the lazy
    (materialize=False) form."""
    from pyspark.sql import functions as F

    from dbus_spark.operators.text import dsir_logratio_hashed

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    target = docs.filter(F.col("lang") == "en")
    plan = _plan(
        dsir_logratio_hashed(docs, target, materialize=False)
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_user_reach_partial_aggregation(spark):
    """Exact distinct reach must plan as expand + two-phase hash
    aggregate (map-side partials), never a raw shuffle of all rows."""
    q = entrymod.queries()["event_user_reach"](spark, SF_DIR)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # map-side partial on (key, value), then the distinct-merge — the
    # shuffle carries distinct pairs, not raw rows
    assert "partial_count(1)" in plan
    assert "partial_count(distinct" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_topk_tokens_plans_take_ordered(spark):
    """The exact heavy-hitters arm must plan as TakeOrderedAndProject
    (per-partition top-k merged at the driver) — a one-partition
    global Window sort of the vocabulary is the failure mode."""
    q = entrymod.queries()["corpus_topk_tokens"](spark, SF_DIR)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_pair_kernels_pin_partition_counts(spark):
    """r7: the quadratic-work stages must shuffle with an EXPLICIT
    partition count (REPARTITION_BY_NUM), never a bare
    repartition(cols)/groupBy exchange that AQE can coalesce by bytes
    — measured on sf1.0, AQE folded the simhash sketch stream to 13
    partitions and the brute-force cosine grid to ONE, serializing
    the pair grids (the shuffle's bytes understate the quadratic
    downstream work)."""
    from dbus_spark.operators import similarity as S

    for name in (
        "doc_simhash_neardup_full",
        "doc_winnow_pairs",
        # (doc_jaccard_pairs rides the same _segment_pairs code path
        # as doc_winnow_pairs but its returned plan starts at the
        # mid-pipeline checkpoint, which hides the exchange)
    ):
        plan = _plan(entrymod.queries()[name](spark, SF_DIR))
        assert "REPARTITION_BY_NUM" in plan, name
        assert "REPARTITION_BY_COL" not in plan, name
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = _plan(S.neardup_pairs(emb, threshold=0.9))
    # the verify groupBy must ride the explicit exchange (exactly one
    # hash exchange feeding FlatMapGroupsInPandas, and it is pinned)
    assert "REPARTITION_BY_NUM" in p
    assert "FlatMapGroupsInPandas" in p
