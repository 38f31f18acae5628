"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline; random-hyperplane
LSH bucketing as the scale path (bucket-join instead of the full cross
product). Pairwise dot products / norms in the verify stage run as
Catalyst higher-order functions (``aggregate``/``zip_with``) in the
JVM; the vector-vs-MANY-planes projections (SRP bucketing, IVF coarse
quantization) run as one Arrow ``pandas_udf`` doing a numpy
accumulation against the plane/centroid matrix — at production dims
(768–1536) × dozens of planes, literal-array expression trees would
make the PLAN itself the bottleneck (thousands of interpreted
higher-order-fold nodes; no codegen inside HOF lambdas).

FP-parity contract: the numpy path accumulates dimension-by-dimension
(``_fold_dots``), which is bit-identical to Catalyst's sequential
left-to-right double fold and to DuckDB's ``list_dot_product`` — so
the seeded-literal oracle SQL sees the exact same signs/argmax and the
value checks stay hash-exact. A plain ``V @ P.T`` (BLAS) uses blocked
summation and could flip a sign at a bucket boundary.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbus_spark.session import _n_partitions


def _dvec(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(_dvec(a), _dvec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pre(a, b, na, nb) -> Column:
    """Cosine with pre-computed norms. The higher-order-function fold
    is interpreted (no codegen inside lambdas), so norms recomputed
    per candidate PAIR cost 2× the dot product for nothing — compute
    them once per ROW before the join and carry the scalar. Same
    doubles, same association as :func:`cosine` (norm is the same
    sqrt-of-self-dot; the product order is unchanged)."""
    na = F.col(na) if isinstance(na, str) else na
    nb = F.col(nb) if isinstance(nb, str) else nb
    return dot(a, b) / (na * nb)


def knn_bruteforce(
    df: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for the given query ids.

    The query side is tiny by construction → broadcast, so the scan of
    the big side is embarrassingly parallel (no shuffle until the
    per-query top-k, which is a k-row-per-partition aggregation).
    """
    q = df.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("q_n"),
    )
    cand = df.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(vec_col).alias("n_n"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            cosine_pre("q_vec", "n_vec", "q_n", "n_n").alias("_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("_sim").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", "n_id", "rank", F.round("_sim", 4).alias("sim")
        )
    )


def neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs with cosine > threshold (brute force baseline).

    Still O(n²) work by definition (this is the oracle arm), but
    executed as a BLOCKED grid instead of a row-level cross join: each
    vector lands in block ``id % n_blocks``; every unordered block
    pair {i, j} is one applyInPandas group that computes its
    (|i| × |j|) cosine grid with the fold-exact numpy kernel and emits
    only candidate rows above the rounding-lossless pre-filter. The
    interpreted per-pair Catalyst fold (≈ n²·dim HOF steps — 44 s at
    20 k vectors) becomes n²·dim numpy FMA (~seconds), each row is
    shuffled n_blocks times instead of n times, and there is no
    CartesianProduct left in the plan. Final values/filter stay on the
    Spark side (``F.round(raw, 4) > threshold``) over bit-identical
    doubles, so results match the crossJoin form exactly."""
    B = n_blocks
    src = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.col(id_col), F.lit(B)).cast("int").alias("_blk"),
    )
    # every unordered block pair {b, q}, q = 0..B-1: exactly one
    # (gi, gj) group per pair, diagonal (b, b) generated once
    grp = F.array(
        *[
            F.struct(
                F.least("_blk", F.lit(q)).alias("gi"),
                F.greatest("_blk", F.lit(q)).alias("gj"),
            )
            for q in range(B)
        ]
    )
    exploded = src.select(
        "_id", "_v", "_blk", F.explode(grp).alias("_g")
    ).select("_id", "_v", "_blk", F.col("_g.gi"), F.col("_g.gj"))
    margin = _round_gt_margin(threshold)

    def verify(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(key[0]), int(key[1])
        if gi == gj:
            ids = pdf["_id"].to_numpy(np.int64)
            if len(ids) < 2:
                return _empty_pairs()
            V = _stack(pdf["_v"])
            nrm = _row_norms(V)
            return _pair_rows_grid(ids, V, nrm, ids, V, nrm, margin, True)
        am = pdf["_blk"].to_numpy() == gi
        pa, pb = pdf[am], pdf[~am]
        if not len(pa) or not len(pb):
            return _empty_pairs()
        Va, Vb = _stack(pa["_v"]), _stack(pb["_v"])
        return _pair_rows_grid(
            pa["_id"].to_numpy(np.int64), Va, _row_norms(Va),
            pb["_id"].to_numpy(np.int64), Vb, _row_norms(Vb),
            margin, False,
        )

    raw = _pin_groups(exploded, "gi", "gj").groupBy("gi", "gj").applyInPandas(
        verify, schema="id_a long, id_b long, _raw double"
    )
    return raw.select(
        "id_a", "id_b", F.round(F.col("_raw"), 4).alias("sim")
    ).filter(F.col("sim") > threshold)


def _pin_groups(df: DataFrame, *cols: str) -> DataFrame:
    """Pin the partition count of a groupBy().applyInPandas verify
    stage: an explicit repartition(N, cols) provides exactly the
    hash partitioning the groupBy needs (one Exchange, plan-checked),
    but with a count AQE will not coalesce. Without it AQE sizes the
    exchange by BYTES — and the verify kernels' work is quadratic per
    group, so on sf1.0 the whole brute-force grid was measured running
    as ONE post-coalesce partition (guide §2.5: partition by work, not
    bytes). N follows spark.sql.shuffle.partitions, the knob that
    already scales with the cluster."""
    n = _n_partitions(df.sparkSession)
    return df.repartition(n, *[F.col(c) for c in cols])


def _hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _fold_dots(V: np.ndarray, P: np.ndarray) -> np.ndarray:
    """<v, p> for every (row, plane) pair with LEFT-TO-RIGHT double
    association: acc_{i+1} = acc_i + v_i * p_i, vectorized across the
    whole (rows × planes) grid per dimension step. Bit-identical to
    Catalyst's ``aggregate(zip_with(...), 0.0, acc + x)`` and DuckDB's
    ``list_dot_product``, so sign/argmax decisions agree with the
    literal-plane oracle SQL exactly. dim python-loop steps of one
    (rows × planes) numpy FMA each — for batch 10k, 32 planes, dim
    1536 that's ~1.5e9 flops in 1536 vector ops: plenty fast, and the
    per-batch cost is O(rows·planes·dim) either way."""
    acc = np.zeros((V.shape[0], P.shape[0]), dtype=np.float64)
    for i in range(V.shape[1]):
        acc += V[:, i, None] * P[None, :, i]
    return acc


def _stack(vecs: pd.Series) -> np.ndarray:
    # array<float> arrives as a Series of float32 numpy arrays; the
    # cast to float64 is exact (widening), matching Catalyst's
    # cast("array<double>") before its fold.
    return np.stack(vecs.to_numpy()).astype(np.float64)


def _row_norms(V: np.ndarray) -> np.ndarray:
    """sqrt of the LEFT-TO-RIGHT self-dot per row — bit-identical to
    Catalyst's ``sqrt(aggregate(zip_with(v, v, *), 0.0, +))`` (same
    association as :func:`_fold_dots`; IEEE sqrt is correctly rounded
    in both engines)."""
    acc = np.zeros(V.shape[0], dtype=np.float64)
    for i in range(V.shape[1]):
        acc += V[:, i] * V[:, i]
    return np.sqrt(acc)


# conservative pre-filter band for `F.round(sim, 4) > threshold`:
# round-half-up moves a value by at most 5e-5, so anything at or above
# threshold + 5e-5 - 1e-9 COULD pass the Spark-side filter; the exact
# F.round(...) > threshold applied downstream makes the final decision
# on bit-identical doubles, so the pre-filter only has to be lossless,
# not exact.
def _round_gt_margin(threshold: float) -> float:
    return threshold + 5e-5 - 1e-9


# Error bound between a BLAS dot product and the fold-exact
# left-to-right accumulation: |blas - fold| <= 2 * dim * eps * |a||b|
# (standard float64 summation bound, both orders), so on the
# normalized cosine the divergence is < ~1.5e-13 at dim 1536. A 1e-9
# screening band is therefore four orders of magnitude conservative:
# any pair whose BLAS cosine is below (margin - _BLAS_BAND) cannot
# reach margin under the fold order, and only pairs inside the band
# or above it are re-computed fold-exact. This keeps every EMITTED
# value bit-identical to the all-fold kernel while the O(|a|·|b|·dim)
# grid runs as one matmul instead of dim interpreted rank-1 updates.
_BLAS_BAND = 1e-9


def _fold_dots_pairs(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise fold-exact dots for PAIRED rows (A[i]·B[i]): the same
    left-to-right per-dimension association as :func:`_fold_dots`,
    vectorized across the pair list — used to re-compute exactly the
    (few) grid entries that survive the BLAS pre-filter."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        acc += A[:, i] * B[:, i]
    return acc


def _pair_rows_grid(
    ids_a: np.ndarray,
    V_a: np.ndarray,
    n_a: np.ndarray,
    ids_b: np.ndarray,
    V_b: np.ndarray,
    n_b: np.ndarray,
    margin: float,
    same: bool,
    chunk: int = 1024,
) -> "pd.DataFrame":
    """Candidate pairs of one bucket/block, verified in numpy: the
    full (|a| × |b|) cosine grid via the fold-exact dots, pre-filtered
    at ``margin``, emitted as (id_a, id_b, _raw) with id_a < id_b.
    ``same=True`` means the two sides are the same row set (upper
    triangle only). Chunked over the a-side so the live grid stays
    ≤ chunk × |b| doubles regardless of bucket skew.

    Bit-exactness: the per-pair value depends only on the two rows'
    float64 vectors (per-dimension FMA order fixed by :func:`_fold_dots`,
    denominator ``na * nb`` first, one division) — identical to what
    Catalyst's interpreted fold would produce for that pair, and
    independent of which bucket (or chunk) computed it, so multi-table
    duplicates of a pair carry bitwise-equal ``_raw`` and collapse in a
    plain ``distinct``."""
    out_a: list[np.ndarray] = []
    out_b: list[np.ndarray] = []
    out_s: list[np.ndarray] = []
    for lo in range(0, len(ids_a), chunk):
        hi = min(lo + chunk, len(ids_a))
        Va = V_a[lo:hi]
        # BLAS screening pass (see _BLAS_BAND): one matmul finds every
        # grid entry that COULD reach the margin under the fold order
        sims = (Va @ V_b.T) / (n_a[lo:hi, None] * n_b[None, :])
        mask = sims >= margin - _BLAS_BAND
        if same:
            # strict upper triangle in ROW ORDER; ids orient below
            cols = np.arange(len(ids_b))[None, :]
            rows = np.arange(lo, hi)[:, None]
            mask &= cols > rows
        else:
            mask &= ids_a[lo:hi, None] != ids_b[None, :]
        ii, jj = np.nonzero(mask)
        if len(ii):
            # fold-exact re-compute of ONLY the screened pairs — the
            # emitted _raw is bit-identical to the all-fold kernel
            exact = _fold_dots_pairs(Va[ii], V_b[jj]) / (
                n_a[lo + ii] * n_b[jj]
            )
            keep = exact >= margin
            ii, jj, exact = ii[keep], jj[keep], exact[keep]
        if len(ii):
            ia = ids_a[lo + ii]
            ib = ids_b[jj]
            out_a.append(np.minimum(ia, ib))
            out_b.append(np.maximum(ia, ib))
            out_s.append(exact)
    if not out_a:
        return _empty_pairs()
    return pd.DataFrame(
        {
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "_raw": np.concatenate(out_s),
        }
    )


def _empty_pairs() -> "pd.DataFrame":
    return pd.DataFrame(
        {
            "id_a": np.array([], np.int64),
            "id_b": np.array([], np.int64),
            "_raw": np.array([], np.float64),
        }
    )


def _passes_round_gt(sims: np.ndarray, thr: float) -> np.ndarray:
    """Exact replica of Spark's ``F.round(sim, 4) > thr`` over raw
    sims whose bits match what Catalyst would compute. Fast path: the
    HALF_UP cut sits at thr + 5e-5, so values clearly on either side
    decide by comparison alone; the (astronomically rare) values
    within 1e-9 of the cut are resolved with decimal HALF_UP over the
    shortest round-trip repr — the same BigDecimal.valueOf(double)
    semantics Spark's Round uses."""
    cut = thr + 5e-5
    out = sims > cut
    band = np.abs(sims - cut) < 1e-9
    if band.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.0001")
        flat = np.argwhere(band)
        for idx in flat:
            v = float(sims[tuple(idx)])
            r = float(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP))
            out[tuple(idx)] = r > thr
    return out


def lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane (SRP) bucket id per vector: bit i = sign of
    <v, plane_i>. Deterministic planes from the seed; one Arrow
    pandas_udf per batch against the (n_planes × dim) plane matrix —
    map-side only, no shuffle, plan size independent of dim. The plane
    matrix ships in the UDF closure (n_planes·dim doubles — ~400 KB at
    32×1536; use an explicit SparkContext.broadcast above ~10 MB)."""
    P = np.asarray(_hyperplanes(n_planes, dim, seed), dtype=np.float64)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf("long")
    def srp_bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        bits = (_fold_dots(_stack(vecs), P) > 0).astype(np.int64)
        return pd.Series(bits @ weights)

    return df.withColumn(out_col, srp_bucket(F.col(vec_col)))


def ivf_centroids(
    n_centroids: int, dim: int, seed: int = 11
) -> list[list[float]]:
    """Deterministic unit-norm 'centroids' from the seed — the IVF
    coarse quantizer stand-in AND the k-means init. Train real ones
    with :func:`kmeans_centroids` (a Spark job) and pass them via the
    ``centroids`` parameter; the assignment/probe machinery is
    identical either way, and seeding keeps the oracle reproducible."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_centroids, dim))
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    return c.tolist()


def _kpp_top(
    V: np.ndarray, ids: np.ndarray, C: np.ndarray, take: int
) -> tuple[np.ndarray, np.ndarray]:
    """Row indices of the ``take`` best k-means++ candidates in (V,
    ids) against chosen centroids C: largest min-cosine-distance,
    exact ties to the smaller id; returns (indices, all-row d). The
    ONE implementation both the
    distributed partial and the local replica call — the bit-for-bit
    Spark/oracle centroid parity is by construction, not by keeping
    two copies in sync (review finding). Zero-norm vectors (all-zero
    embeddings) are pinned to distance 0 — similarity undefined, so
    they must never be promoted to candidates; without the guard the
    0/0 NaN propagates into lexsort, whose NaN ordering can
    nondeterministically diverge the distributed trainer from the
    local oracle replica (advisor finding)."""
    nv = np.linalg.norm(V, axis=1)
    nc = np.linalg.norm(C, axis=1)
    denom = np.where(nv == 0, 1.0, nv)[:, None] * np.where(
        nc == 0, 1.0, nc
    )[None, :]
    sims = _fold_dots(V, C) / denom
    d = 1.0 - sims.max(axis=1)
    d = np.where(nv == 0, 0.0, d)
    return np.lexsort((ids, -d))[:take], d


def kmeanspp_init(
    df: DataFrame,
    dim: int,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch: int = 5,
) -> list[list[float]]:
    """Deterministic farthest-point (k-means‖-style batched greedy
    k-means++) initialization: start from the lowest-id vector, then
    per round add the ``batch`` vectors with the largest min-distance
    to the chosen set (distance 1 - <v,c>/(|v||c|); exact ties break
    to the smaller id; intra-batch interactions ignored, the standard
    k-means|| oversampling trade-off — Lloyd iterations clean up any
    same-batch redundancy). ceil((k-1)/batch) distributed scans
    instead of k-1: each partition reduces to its top-``batch``
    candidates via a mapInPandas partial, the driver merges the tiny
    candidate rows and appends the global top-``batch``.

    Deterministic and engine-replicable: chosen centroids are actual
    data vectors (float32 values, no arithmetic wobble) rounded to the
    same 6-decimal protocol as the Lloyd iterations, distances use the
    fold-exact dots, and the selection rule is a pure function of the
    per-row (d, id) pairs — so :func:`kmeanspp_init_local` reproduces
    the choices bit-for-bit regardless of partitioning."""
    first = (
        df.orderBy(F.col(id_col).asc())
        .select(vec_col)
        .limit(1)
        .collect()[0][0]
    )
    if len(first) != dim:
        raise ValueError(
            f"kmeanspp_init: dim={dim} but {vec_col} vectors have "
            f"{len(first)} components"
        )
    chosen = [np.round(np.asarray(first, dtype=np.float64), 6)]

    while len(chosen) < n_centroids:
        C = np.stack(chosen)
        take = min(batch, n_centroids - len(chosen))

        def partial(it):
            rows = []
            for pdf in it:
                if not len(pdf):
                    continue
                V = _stack(pdf[vec_col])
                ids = pdf[id_col].to_numpy()
                top, d = _kpp_top(V, ids, C, take)
                rows.append(
                    pd.DataFrame(
                        {
                            "d": d[top],
                            "id": ids[top],
                            "v": [V[i].tolist() for i in top],
                        }
                    )
                )
            if rows:
                yield pd.concat(rows, ignore_index=True)

        cands = df.select(id_col, vec_col).mapInPandas(
            partial, schema="d double, id long, v array<double>"
        ).collect()
        cands.sort(key=lambda r: (-r.d, r.id))
        for r in cands[:take]:
            chosen.append(np.round(np.asarray(r.v, dtype=np.float64), 6))
    return [c.tolist() for c in chosen]


def kmeanspp_init_local(
    V: np.ndarray, ids: np.ndarray, n_centroids: int = 16, batch: int = 5
) -> list[list[float]]:
    """numpy replica of :func:`kmeanspp_init` (same rounding, same
    fold-exact distances, same batched selection and tie-break) for
    the oracle generator."""
    V = V.astype(np.float64)
    order0 = np.argsort(ids, kind="stable")
    chosen = [np.round(V[order0[0]], 6)]
    while len(chosen) < n_centroids:
        C = np.stack(chosen)
        take = min(batch, n_centroids - len(chosen))
        top, _ = _kpp_top(V, ids, C, take)
        for i in top:
            chosen.append(np.round(V[i], 6))
    return [c.tolist() for c in chosen]


def kmeans_centroids(
    df: DataFrame,
    dim: int,
    n_centroids: int = 16,
    seed: int = 11,
    n_iter: int = 5,
    vec_col: str = "embedding",
    init: str = "seeded",
    id_col: str = "vec_id",
    small_input_threshold: int = 200_000,
) -> list[list[float]]:
    """Spherical k-means (Lloyd's) over the embedding table — the
    training pass that turns the seeded IVF stand-ins into real
    coarse-quantizer centroids. ``init``: "seeded" (random unit
    vectors from the seed — oracle-stable anywhere) or "kpp"
    (:func:`kmeanspp_init` — data-spread farthest-point starts,
    k extra scans). Each iteration is ONE distributed scan:
    ``mapInPandas`` assigns every vector to its max-dot centroid and
    emits per-partition partial (sum, count) per cell — k·dim doubles
    per partition, so the driver combine handles scalars-sized data
    regardless of corpus size (the same rounds-only driver discipline
    as ``neardup_groups``). New centroid = unit-normalized mean of its
    cell, empty cells keep their previous centroid.

    Determinism/oracle contract: centroids are ROUNDED to 6 decimals
    after every iteration (including the seeded init), so the values
    are exact decimal literals. Assignments use the fold-exact dots
    against those rounded literals, and the ~1e-12 summation-order
    wobble between this distributed combine and the single-pass numpy
    replica (:func:`kmeans_centroids_local`) is quashed by the
    rounding — the two trainers produce identical centroids, which is
    what lets the DuckDB oracle inline them."""
    # Size-adaptive strategy, the components_from_pairs philosophy:
    # training is ceil((k-1)/batch) + n_iter sequential Spark jobs
    # whose per-round scheduling dwarfs the arithmetic on a small
    # table (k·dim scalars of real work per round). Below the
    # threshold, collect the (id, vec) projection once and run the
    # numpy replica — the SAME function the oracle generator and the
    # equivalence test pin bit-for-bit against the distributed
    # trainer, applied in id order exactly as the oracle does, so the
    # centroids are identical BY CONSTRUCTION rather than by the
    # rounding protocol. Above it, the distributed rounds-only path
    # is unchanged (the 100 TB shape: one scan per round, partial
    # sums to the driver).
    train = df.select(id_col, vec_col)
    # a LIMIT probe: only "at most the threshold?" matters
    n_rows = train.limit(small_input_threshold + 1).count()
    if n_rows <= small_input_threshold:
        pdf = train.toPandas()
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        V = np.stack(pdf[vec_col].to_numpy())[order].astype(np.float64)
        if V.shape[1] != dim:
            raise ValueError(
                f"kmeans_centroids: dim={dim} but {vec_col} vectors "
                f"have {V.shape[1]} components"
            )
        return kmeans_centroids_local(
            V, n_centroids, seed, n_iter, init, ids=ids[order]
        )
    from pyspark.storagelevel import StorageLevel

    par = df.sparkSession.sparkContext.defaultParallelism
    if train.rdd.getNumPartitions() < par:
        train = train.repartition(par)
    train = train.persist(StorageLevel.MEMORY_AND_DISK)
    df = train
    if init == "kpp":
        C = np.asarray(
            kmeanspp_init(df, dim, n_centroids, vec_col, id_col),
            dtype=np.float64,
        )
    else:
        C = np.round(
            np.asarray(
                ivf_centroids(n_centroids, dim, seed), dtype=np.float64
            ),
            6,
        )
    for _ in range(n_iter):
        C_cur = C.copy()

        def partials(it):
            sums = np.zeros((n_centroids, dim), dtype=np.float64)
            cnts = np.zeros(n_centroids, dtype=np.int64)
            for pdf in it:
                if not len(pdf):
                    continue
                V = _stack(pdf[vec_col])
                cells = np.argmax(_fold_dots(V, C_cur), axis=1)
                for c in np.unique(cells):
                    m = cells == c
                    sums[c] += V[m].sum(axis=0)
                    cnts[c] += int(m.sum())
            yield pd.DataFrame(
                {
                    "cell": np.arange(n_centroids, dtype=np.int32),
                    "n": cnts,
                    "s": list(sums),
                }
            )

        part = df.select(vec_col).mapInPandas(
            partials, schema="cell int, n long, s array<double>"
        ).toPandas()
        # combine in (partition, cell) order — toPandas preserves
        # partition order, so the fold is deterministic per input
        for c in range(n_centroids):
            rows = part[part["cell"] == c]
            n = int(rows["n"].sum())
            if n == 0:
                continue
            v = np.sum(np.stack(rows["s"].to_numpy()), axis=0) / n
            nv = np.linalg.norm(v)
            if nv > 0:
                v = v / nv
            C[c] = np.round(v, 6)
    train.unpersist()
    return C.tolist()


def kmeans_centroids_local(
    V: np.ndarray,
    n_centroids: int = 16,
    seed: int = 11,
    n_iter: int = 5,
    init: str = "seeded",
    ids: np.ndarray | None = None,
) -> list[list[float]]:
    """Single-process numpy replica of :func:`kmeans_centroids` — used
    by the DuckDB oracle generator (which has no SparkSession) and by
    equivalence tests. Identical math: same init (seeded or kpp, the
    latter needs ``ids``), fold-exact assignment dots, unit-normalized
    means, 6-decimal rounding per iteration."""
    dim = V.shape[1]
    V = V.astype(np.float64)
    if init == "kpp":
        if ids is None:
            raise ValueError(
                "kmeans_centroids_local: init='kpp' requires the ids "
                "array (the tie-break key of the candidate selection)"
            )
        C = np.asarray(
            kmeanspp_init_local(V, ids, n_centroids), dtype=np.float64
        )
    else:
        C = np.round(
            np.asarray(
                ivf_centroids(n_centroids, dim, seed), dtype=np.float64
            ),
            6,
        )
    for _ in range(n_iter):
        cells = np.argmax(_fold_dots(V, C), axis=1)
        for c in range(n_centroids):
            m = cells == c
            if not m.any():
                continue
            v = V[m].sum(axis=0) / int(m.sum())
            nv = np.linalg.norm(v)
            if nv > 0:
                v = v / nv
            C[c] = np.round(v, 6)
    return C.tolist()


def save_centroids(centroids: list[list[float]], path: str) -> None:
    """Persist trained centroids as exact decimal text (json of repr
    floats round-trips bit-exactly — 6-dp decimals by construction)."""
    import json

    with open(path, "w") as f:
        json.dump(centroids, f)


def load_centroids(path: str) -> list[list[float]]:
    import json

    with open(path) as f:
        return json.load(f)


def _centroid_dots(vec_col: str, centroids: list[list[float]]) -> Column:
    """array of <v, c_i> per centroid — the coarse-quantizer scores.
    One Arrow pandas_udf against the (n_centroids × dim) matrix; the
    fold-exact accumulation keeps argmax/probe-order decisions
    identical to the literal-centroid oracle SQL."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("array<double>")
    def cdots(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        # a null vector must not kill the whole Arrow batch (the
        # null-signature lesson): stand in a zero vector — dots all 0,
        # deterministic first-cell argmax; streaming consumers carry
        # the original null alongside and handle it explicitly
        na = vecs.isna()
        if na.any():
            vecs = vecs.copy()
            vecs[na] = pd.Series(
                [np.zeros(C.shape[1], dtype=np.float64)] * int(na.sum()),
                index=vecs.index[na],
            )
        return pd.Series(list(_fold_dots(_stack(vecs), C)))

    return cdots(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def ivf_assign(
    df: DataFrame,
    dim: int,
    n_centroids: int = 16,
    seed: int = 11,
    vec_col: str = "embedding",
    out_col: str = "cell",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (max dot product,
    first index on ties) — map-side only, the IVF inverted-list key.
    At scale this is the partitioning column of the vector table.
    ``centroids`` overrides the seeded stand-ins with a trained set
    (:func:`kmeans_centroids`)."""
    cents = centroids if centroids is not None else ivf_centroids(
        n_centroids, dim, seed
    )
    # materialize the UDF result once; argmax reads the attribute twice
    return (
        df.withColumn("_cdots", _centroid_dots(vec_col, cents))
        .withColumn(
            out_col,
            (
                F.array_position(F.col("_cdots"), F.array_max("_cdots")) - 1
            ).cast("int"),
        )
        .drop("_cdots")
    )


def knn_ivf(
    df: DataFrame,
    query_ids: list[int],
    dim: int,
    k: int = 3,
    n_centroids: int = 16,
    n_probes: int = 4,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: vectors live in their nearest-centroid cell; a
    query probes its ``n_probes`` best cells and exact-scores only
    those inverted lists. The scan side shuffles once on ``cell``;
    the (tiny) probe side broadcasts — candidates are
    |docs|·n_probes/n_centroids in expectation, never O(n²).
    Complements SRP-LSH (`knn_lsh`): IVF recall degrades gracefully
    with n_probes instead of collapsing with bucket width.
    ``centroids`` plugs in a trained coarse quantizer
    (:func:`kmeans_centroids`); default is the seeded stand-ins."""
    cents = centroids if centroids is not None else ivf_centroids(
        n_centroids, dim, seed
    )
    assigned = ivf_assign(df, dim, n_centroids, seed, vec_col, centroids=cents)
    probes = (
        df.filter(F.col(id_col).isin(query_ids))
        # materialize the UDF column BEFORE the generator: posexplode
        # of a raw UDF expression makes InferFiltersFromGenerate
        # synthesize a size()>0 filter that re-evaluates the UDF (the
        # doc_minhash trap); exploding the attribute is evaluate-once
        .withColumn("_cdots", _centroid_dots(vec_col, cents))
        .select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            norm(vec_col).alias("q_n"),
            F.posexplode("_cdots").alias("cell", "cdot"),
        )
        .withColumn(
            "prank",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.col("cdot").desc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("prank") <= n_probes)
        .select("q_id", "q_vec", "q_n", "cell")
    )
    cand = assigned.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(vec_col).alias("n_n"),
        "cell",
    )
    scored = (
        F.broadcast(probes)
        .join(cand, on="cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            cosine_pre("q_vec", "n_vec", "q_n", "n_n").alias("_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("_sim").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", F.round("_sim", 4).alias("sim"))
    )


def lsh_bucket_tables(
    df: DataFrame,
    dim: int,
    n_tables: int = 8,
    planes_per_table: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table SRP bucketing: ``n_tables`` independent hash tables
    of ``planes_per_table`` hyperplanes each. A pair of vectors is a
    candidate if they collide in ANY table — the OR-construction that
    trades a little extra shuffle (|docs|·n_tables rows, ids only) for
    much higher recall than a single 2^k-bucket table.

    Output: one (id, tbl, bucket) row per vector per table — the
    exploded candidate-key stream, vectors NOT carried (the shuffle
    payload stays two ints + the id). All n_tables·planes_per_table
    projections happen in ONE Arrow pandas_udf against the stacked
    plane matrix (fold-exact, see module docstring) — plan size is
    independent of dim and table count."""
    return df.withColumn(
        "_tb",
        _srp_table_buckets_udf(dim, n_tables, planes_per_table, seed)(
            F.col(vec_col)
        ),
    ).select(
        F.col(id_col), F.posexplode("_tb").alias("tbl", "bucket")
    )


def _srp_table_buckets_udf(
    dim: int, n_tables: int, planes_per_table: int, seed: int
):
    """The multi-table SRP projection as a reusable Arrow UDF — shared
    by :func:`lsh_bucket_tables` (ids-only exploded stream) and the
    group-side verify path of :func:`neardup_pairs_lsh` (which carries
    the vector through the same explode)."""
    P = np.asarray(
        _hyperplanes(n_tables * planes_per_table, dim, seed),
        dtype=np.float64,
    )
    weights = 1 << np.arange(planes_per_table, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def srp_table_buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        bits = (_fold_dots(_stack(vecs), P) > 0).astype(np.int64)
        buckets = bits.reshape(len(vecs), n_tables, planes_per_table) @ weights
        return pd.Series(list(buckets))

    return srp_table_buckets


def neardup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    n_tables: int = 8,
    planes_per_table: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via multi-table SRP-LSH — the 100 TB shape:

    1. candidate generation: bucket-join on (table, bucket) over an
       ids-only exploded stream (shuffle = |docs|·n_tables tiny rows;
       per-bucket pair blowup bounded by 2^planes_per_table fan-in, the
       same hot-key geometry as the MinHash band join) — never O(n²);
    2. ``distinct`` collapses pairs colliding in several tables before
       any vector is touched;
    3. exact-cosine verify: the small candidate set joins back to the
       vectors (two hash joins on id) and is filtered on the threshold.

    Same output contract as ``neardup_pairs`` restricted to candidate
    pairs; recall is the standard LSH OR-construction bound
    (1 - (1 - (1-θ/π)^m)^T for angle θ), NOT 1.0 — near-dups at
    cos ≥ .95 are found with P > .9999 at the defaults, low-similarity
    pairs may be missed by design. The DuckDB oracle mirrors the exact
    same construction (literal hyperplanes), so the value check is
    exact over the implemented semantics.

    ``max_bucket`` drops (table, bucket) cells holding more than that
    many vectors before pairing — the bucket-join analog of the
    Jaccard ``max_df`` cut: a degenerate cell (e.g. a dense region all
    hashing together) costs |cell|² join rows while its pairs are the
    least informative; capping bounds the worst hot key at
    max_bucket² regardless of data skew. Off by default (the oracle
    mirrors the uncapped construction).

    Execution (r7): candidates are generated AND verified inside each
    (table, bucket) group — the vector rides the explode (|docs|·
    n_tables rows, one 64-float payload each) into a
    groupBy(tbl, bucket).applyInPandas that computes the in-bucket
    cosine grid with the fold-exact numpy kernel and emits only rows
    above the rounding-lossless pre-filter. This replaces the former
    ids-only bucket join whose tens of millions of candidate rows each
    paid an interpreted Catalyst fold in a post-``distinct`` verify
    (the r6 profile: ~100 M candidate rows at 20 k vectors). A pair
    colliding in several tables carries bitwise-equal ``_raw`` from
    every group (the value depends only on the two vectors), so the
    ``distinct`` collapses duplicates exactly as before; the final
    round + threshold filter stays on the Spark side."""
    tb = df.withColumn(
        "_tb",
        _srp_table_buckets_udf(dim, n_tables, planes_per_table, seed)(
            F.col(vec_col)
        ),
    ).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.posexplode("_tb").alias("tbl", "bucket"),
    )
    margin = _round_gt_margin(threshold)

    def verify(_key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2 or (
            max_bucket is not None and len(pdf) > max_bucket
        ):
            return _empty_pairs()
        ids = pdf["_id"].to_numpy(np.int64)
        V = _stack(pdf["_v"])
        nrm = _row_norms(V)
        return _pair_rows_grid(ids, V, nrm, ids, V, nrm, margin, True)

    raw = _pin_groups(tb, "tbl", "bucket").groupBy("tbl", "bucket").applyInPandas(
        verify, schema="id_a long, id_b long, _raw double"
    )
    return (
        raw.distinct()
        .select("id_a", "id_b", F.round(F.col("_raw"), 4).alias("sim"))
        .filter(F.col("sim") > threshold)
    )


def neardup_pairs_ivf(
    df: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    n_centroids: int = 16,
    n_probes: int = 2,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    max_cell: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via IVF cells — the second scale path
    beside SRP-LSH (``neardup_pairs_lsh``): each vector indexes into
    its ``n_probes`` best coarse-quantizer cells (multi-probe on the
    INDEX side, so two vectors straddling a cell boundary still meet
    in the runner-up cell); pairs sharing any cell are candidates,
    then exact-cosine verified. Candidate volume is
    |docs|²·n_probes²/n_centroids in expectation per shared cell —
    bounded by the quantizer, never O(n²); with a TRAINED quantizer
    (``kmeans_centroids``) cells track the data distribution, which is
    what makes this the preferred path when the corpus is clustered
    (IVF recall degrades gracefully with n_probes; SRP recall is fixed
    by plane count at index time).

    ``max_cell`` mirrors ``max_bucket`` on the LSH path: drop cells
    holding more vectors than the cap before pairing (off by default;
    the oracle mirrors the uncapped construction).

    Execution (r7): same group-side generate-and-verify as
    :func:`neardup_pairs_lsh` — the vector rides the multi-probe
    explode into a groupBy(cell).applyInPandas computing the in-cell
    cosine grid fold-exact in numpy; ``distinct`` collapses pairs
    sharing both probed cells (bitwise-equal ``_raw``); round +
    threshold stay Spark-side."""
    cents = centroids if centroids is not None else ivf_centroids(
        n_centroids, dim, seed
    )
    k = len(cents)
    # top-P cells, map-side: sort struct(dot, -cell) DESC == dot DESC
    # then cell ASC (the tie rule the argmax/oracle row_number uses)
    entries = F.slice(
        F.sort_array(
            F.zip_with(
                _centroid_dots(vec_col, cents),
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda d, c: F.struct(
                    d.alias("d"), (-c).alias("negc")
                ),
            ),
            asc=False,
        ),
        1,
        n_probes,
    )
    probed = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode(entries).alias("e"),
    ).select("_id", "_v", (-F.col("e.negc")).cast("int").alias("cell"))
    margin = _round_gt_margin(threshold)

    def verify(_key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2 or (
            max_cell is not None and len(pdf) > max_cell
        ):
            return _empty_pairs()
        ids = pdf["_id"].to_numpy(np.int64)
        V = _stack(pdf["_v"])
        nrm = _row_norms(V)
        return _pair_rows_grid(ids, V, nrm, ids, V, nrm, margin, True)

    raw = _pin_groups(probed, "cell").groupBy("cell").applyInPandas(
        verify, schema="id_a long, id_b long, _raw double"
    )
    return (
        raw.distinct()
        .select("id_a", "id_b", F.round(F.col("_raw"), 4).alias("sim"))
        .filter(F.col("sim") > threshold)
    )


def neardup_groups(
    df: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    n_tables: int = 8,
    planes_per_table: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 20,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Near-duplicate GROUPS: connected components over the verified
    LSH pair graph, labelling every vector with the minimum id
    reachable through above-threshold edges — the step that turns a
    pair list into dedup groups (keep one representative per group).

    Two execution strategies, picked by measured edge count (the same
    size-adaptive philosophy as broadcast-join thresholds):

    - edge list ≤ ``small_graph_threshold``: union-find on the driver
      over the (ids-only, bounded) collected pairs — near-dup graphs
      are usually tiny relative to the corpus, and the distributed
      loop's per-round scheduling (~1 s/round here) dwarfs the actual
      work. The collect is explicitly bounded by the threshold.
    - larger: iterative min-label propagation — the standard
      distributed CC formulation (each round: every node takes the min
      label among itself and its neighbors; one join + one
      aggregation, all data-parallel; the driver only schedules rounds
      and checks a scalar convergence count). Dense near-dup clusters
      converge in O(log d) ≈ 2-4 rounds; each round localCheckpoints
      the (nodes-in-edges only) label frame so plans don't grow.

    Both strategies compute the identical min-label fixpoint
    (equivalence pinned by test); the CC core is shared with the
    text-side ``dedup.doc_neardup_groups`` via
    ``graph.components_from_pairs``."""
    from dbus_spark.operators.graph import components_from_pairs

    pairs = neardup_pairs_lsh(
        df, threshold, dim, n_tables, planes_per_table, seed,
        id_col, vec_col,
    )
    return components_from_pairs(
        pairs,
        df.select(F.col(id_col)),
        id_col,
        max_iter=max_iter,
        small_graph_threshold=small_graph_threshold,
    )


def knn_lsh(
    df: DataFrame,
    query_ids: list[int],
    dim: int,
    k: int = 3,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's SRP
    bucket — the scale path: the bucket-join shuffles |docs| rows into
    2^n_planes groups instead of scanning everything per query."""
    bucketed = lsh_bucket(df, dim, n_planes, seed, vec_col)
    q = bucketed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("q_n"),
        F.col("bucket"),
    )
    cand = bucketed.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(vec_col).alias("n_n"),
        F.col("bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(cand, on="bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            cosine_pre("q_vec", "n_vec", "q_n", "n_n").alias("_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("_sim").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", F.round("_sim", 4).alias("sim"))
    )


def semdedup(
    df: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    n_centroids: int = 16,
    seed: int = 11,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public):
    cluster-scoped SEMANTIC dedup over an embedding column.  Vectors
    are coarse-clustered (the IVF assignment — seeded stand-ins or a
    :func:`kmeans_centroids` quantizer); within each cluster, pairs
    above the cosine ``threshold`` are semantic duplicates, and of
    any duplicate pair the survivor is the one FARTHER from the
    centroid (the paper's keep-rule: low centroid-cosine = the more
    marginal, information-adding example), ties broken by id.

    Exact rule (deterministic, oracle-replayable): a row x is DROPPED
    iff some y in the same cell has round(cos(x,y),4) > threshold and
    (round(cos(y,cent)),4), y.id) < ((round(cos(x,cent)),4), x.id).
    On a chain a~b, b~c (a best-ranked) this drops BOTH b and c —
    slightly more aggressive than keep-one-per-component, and join-
    expressible without an iterative CC pass (use
    :func:`neardup_groups` when component semantics matter).

    Output: the kept rows, ``(id, cell, cent_sim)``.

    Scale shape (the reason SemDeDup beats pairwise near-dup at
    100 TB): the only pair join is WITHIN cells — shuffle keys on the
    cell id, candidate count is sum of cell-size², never corpus².
    The cluster count is the knob (the paper uses ~100k clusters at
    web scale, keeping cells ~1e4 rows); centroid assignment is one
    map-side Arrow pass.  Hot-cell skew mitigations are the IVF
    family's (cap or split oversized cells — `neardup_pairs_ivf`'s
    ``max_cell``).  Centroid norms are injected as literals computed
    once at plan time, so the Spark plan and the SQL oracle consume
    bit-identical constants.

    Execution (r7): the within-cell pair join + anti-join became ONE
    groupBy(cell).applyInPandas — each cell sorts its rows by the
    keep-rank (cent_sim, id), computes the in-cell cosine grid with
    the fold-exact numpy kernel, and drops every row with an
    above-threshold neighbor of strictly better rank. The drop
    decision replicates ``F.round(sim, 4) > threshold`` bit-exactly
    (:func:`_passes_round_gt`); cent_sim itself is still computed and
    rounded on the Spark side before the shuffle, so emitted values
    are unchanged.
    """
    cents = centroids if centroids is not None else ivf_centroids(
        n_centroids, dim, seed
    )
    cnorms = [float(np.sqrt(np.dot(np.asarray(c), np.asarray(c)))) for c in cents]
    base = (
        df.withColumn("_cdots", _centroid_dots(vec_col, cents))
        .withColumn(
            "cell",
            (
                F.array_position(F.col("_cdots"), F.array_max("_cdots")) - 1
            ).cast("int"),
        )
        .withColumn("_cdot", F.element_at("_cdots", F.col("cell") + 1))
        .withColumn(
            "_cnorm",
            F.element_at(
                F.array(*[F.lit(x) for x in cnorms]), F.col("cell") + 1
            ),
        )
        .withColumn("_vnorm", norm(vec_col))
        .select(
            F.col(id_col).alias("_id"),
            "cell",
            F.round(F.col("_cdot") / (F.col("_vnorm") * F.col("_cnorm")), 4)
            .alias("cent_sim"),
            F.col(vec_col).alias("_vec"),
        )
    )

    def keep(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(key[0])
        # rows with a null vector OR NaN cent_sim (zero-norm vectors)
        # sit outside the drop rule entirely: every (cs, id) comparison
        # against NaN is false in the join form, so they are never
        # dropped and never drop others
        has_vec = (
            pdf["_vec"].notna() & pdf["cent_sim"].notna()
        ).to_numpy()
        sub = pdf[has_vec]
        kept_parts = [pdf[~has_vec]]
        if len(sub) >= 2:
            ids = sub["_id"].to_numpy(np.int64)
            cs = sub["cent_sim"].to_numpy(np.float64)
            # keep-rank order: (cent_sim ASC, id ASC) — a row can only
            # be dropped by a strictly earlier row in this order
            order = np.lexsort((ids, cs))
            V = _stack(sub["_vec"].iloc[order])
            nrm = _row_norms(V)
            n = len(order)
            dropped_sorted = np.zeros(n, dtype=bool)
            chunk = 1024
            cut = threshold + 5e-5
            for lo in range(1, n, chunk):
                hi = min(lo + chunk, n)
                Va = V[lo:hi]
                # BLAS screening + fold-exact band re-compute (see
                # _BLAS_BAND): decisions are identical to the all-fold
                # _passes_round_gt because only entries within 1e-9 of
                # the HALF_UP cut can differ between the two orders,
                # and exactly those are re-computed fold-exact
                sims = (Va @ V.T) / (nrm[lo:hi, None] * nrm[None, :])
                passed = sims > cut
                band = np.abs(sims - cut) < _BLAS_BAND
                if band.any():
                    bi, bj = np.nonzero(band)
                    exact = _fold_dots_pairs(Va[bi], V[bj]) / (
                        nrm[lo + bi] * nrm[bj]
                    )
                    passed[bi, bj] = _passes_round_gt(exact, threshold)
                # strictly-better-ranked neighbors only: q < p
                cols = np.arange(n)[None, :]
                rows = np.arange(lo, hi)[:, None]
                dropped_sorted[lo:hi] = (passed & (cols < rows)).any(
                    axis=1
                )
            keep_idx = order[~dropped_sorted]
            kept_parts.append(sub.iloc[np.sort(keep_idx)])
        else:
            kept_parts.append(sub)
        out = pd.concat(kept_parts, ignore_index=True)
        return pd.DataFrame(
            {
                "_id": out["_id"].to_numpy(np.int64),
                "cell": np.full(len(out), cell, dtype=np.int32),
                "cent_sim": out["cent_sim"].to_numpy(np.float64),
            }
        )

    return (
        _pin_groups(base, "cell")
        .groupBy("cell")
        .applyInPandas(keep, schema="_id long, cell int, cent_sim double")
        .select(F.col("_id").alias(id_col), "cell", "cent_sim")
    )
