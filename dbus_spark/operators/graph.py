"""Distributed connected components over a pair list.

The shared core of the near-duplicate GROUPING step (embedding-side
``similarity.neardup_groups`` and text-side
``dedup.doc_neardup_groups``): turn verified candidate pairs into
dedup groups by labelling every node with the minimum id reachable
through the edge set.

Size-adaptive like a broadcast-join threshold (reference parity:
dbus routes per-packet on one node; grouping is an analytics-side
addition, no reference counterpart):

- edge list ≤ ``_DRIVER_EDGES``: union-find on the driver over
  the (ids-only, bounded) collected pairs. Near-dup graphs are tiny
  relative to the corpus, and a distributed loop's per-round
  scheduling (~1 s/round measured here) dwarfs the actual work. The
  collect is explicitly bounded by the threshold.
- larger: iterative min-label propagation — the standard distributed
  CC formulation: each round every node takes the min label among
  itself and its neighbors (one join + one aggregation, all
  data-parallel; the driver only schedules rounds and checks a scalar
  convergence count). Dense near-dup clusters converge in
  O(log diameter) ≈ 2-4 rounds; each round localCheckpoints the
  (nodes-in-edges only) label frame so plans don't grow.

Both strategies compute the identical min-label fixpoint (equivalence
pinned by test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# the largest edge list collected for driver-side union-find
_DRIVER_EDGES = 100_000


def components_from_pairs(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str,
    max_iter: int = 20,
) -> DataFrame:
    """Label every row of ``ids`` (a one-column frame of ``id_col``)
    with the min id of its connected component in ``pairs``
    (columns ``id_a``/``id_b``); nodes in no edge are their own
    singleton group. Returns columns ``(id_col, grp)``."""
    # internal join frames use underscore-prefixed columns so a caller's
    # id_col can never alias-collide with them (id_col='id'/'label' used
    # to make the joins below ambiguous); 'grp' is the public output name
    if id_col in {"_cc_id", "_cc_label", "grp"}:
        raise ValueError(
            f"id_col {id_col!r} collides with components_from_pairs "
            f"output/internal columns ('grp', '_cc_id', '_cc_label')"
        )
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)

    n_edges = pairs.count()
    if n_edges <= _DRIVER_EDGES:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pairs.collect():  # bounded by _DRIVER_EDGES
            a, b = r.id_a, r.id_b
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        comp_min: dict = {}
        for node in parent:
            root = find(node)
            m = comp_min.get(root)
            if m is None or node < m:
                comp_min[root] = node
        spark = ids.sparkSession
        id_type = ids.schema[id_col].dataType.simpleString()
        if comp_min:
            labels = spark.createDataFrame(
                [(n, comp_min[find(n)]) for n in parent],
                f"_cc_id {id_type}, _cc_label {id_type}",
            )
        else:
            labels = spark.createDataFrame(
                [], f"_cc_id {id_type}, _cc_label {id_type}"
            )
        return (
            ids.join(
                F.broadcast(labels), ids[id_col] == labels._cc_id, "left"
            )
            .select(
                F.col(id_col),
                F.coalesce("_cc_label", F.col(id_col)).alias("grp"),
            )
        )

    edges = pairs.union(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    ).localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("id_a").alias("_cc_id"))
        .distinct()
        .withColumn("_cc_label", F.col("_cc_id"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.id_b == labels._cc_id)
            .groupBy("id_a")
            .agg(F.min("_cc_label").alias("nmin"))
        )
        updated = (
            labels.join(
                neighbor_min, labels._cc_id == neighbor_min.id_a, "left"
            )
            .select(
                "_cc_id",
                F.least(
                    F.col("_cc_label"), F.coalesce("nmin", F.col("_cc_label"))
                ).alias("_cc_label"),
                (F.col("nmin") < F.col("_cc_label")).alias("_chg"),
            )
        ).localCheckpoint(eager=True)
        changed = updated.filter("_chg").count()
        labels = updated.drop("_chg")
        if changed == 0:
            break
    else:
        if changed:
            # loop exhausted max_iter with labels still moving: a pair
            # graph of diameter > max_iter (a long near-dup chain)
            # would return split components — surface it instead of
            # silently under-merging
            import warnings

            warnings.warn(
                f"components_from_pairs: min-label propagation did "
                f"not converge in {max_iter} rounds ({changed} labels "
                f"still changing); components may be split — raise "
                f"max_iter",
                RuntimeWarning,
                stacklevel=2,
            )
    return (
        ids.join(labels, ids[id_col] == labels._cc_id, "left")
        .select(
            F.col(id_col),
            F.coalesce("_cc_label", F.col(id_col)).alias("grp"),
        )
    )
