"""Similarity search over embedding columns (SURVEY.md §2.8).

- brute-force cosine top-k: the exact baseline. Query set × corpus via a
  broadcast of the (small) query side; the dot product is a higher-order
  ``aggregate`` over ``zip_with`` — JVM-side, no Python, no UDF.
- LSH-bucketed variant (random hyperplane signs): the scale path. Sign
  bits against fixed hyperplanes bucket the corpus; only same-bucket (or
  neighboring-probe) candidates are scored. At 100 TB the corpus never
  cross-joins: the bucket key is an equi-join key, and multi-probe widens
  recall without widening the shuffle.
- embedding-cosine near-dup pairs: dedup by cosine >= threshold.

Determinism: scores are compared engine-to-engine only through integer
outputs (ranks, ids, votes) — float cosine ties at 1e-16 granularity are
the only hazard and do not occur with real-valued embeddings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from liq_stream_spark.pins import pin


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
    )


def cosine(a: str, b: str) -> Column:
    # NULL (not a DIVIDE_BY_ZERO abort under ANSI mode) for zero-magnitude
    # vectors, matching the Arrow path where 0/0 NaN crosses as NULL —
    # degenerate embeddings drop from pair/neighbor output instead of
    # failing the job or ranking arbitrarily
    den = _norm(a) * _norm(b)
    return F.when(den != 0, _dot(a, b) / den)


try:  # Arrow fast path; expression fallback keeps the operator dependency-free
    import numpy as np
    import pandas as pd
except ImportError:  # pragma: no cover
    np = None
    pd = None


def cosine_fast(a: str, b: str) -> Column:
    """Arrow-vectorized cosine. CAVEAT: numpy sums pairwise, so the result
    can differ from the sequential-fold ``cosine`` in the last ULP — use it
    where scores feed rankings/thresholds (integer or set outputs), not
    where the raw double itself is compared against an engine oracle."""
    if pd is None or np is None:
        return cosine(a, b)

    @F.pandas_udf("double")
    def _cos(av: pd.Series, bv: pd.Series) -> pd.Series:
        am = np.stack(av.to_numpy()).astype(np.float64)
        bm = np.stack(bv.to_numpy()).astype(np.float64)
        num = (am * bm).sum(axis=1)
        den = np.sqrt((am * am).sum(axis=1)) * np.sqrt((bm * bm).sum(axis=1))
        with np.errstate(invalid="ignore", divide="ignore"):
            out = num / den
        # zero-magnitude vectors -> NaN -> NULL in Spark, matching the
        # expression fallback's explicit zero-denominator guard
        out[den == 0] = np.nan
        return pd.Series(out)

    return _cos(a, b)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector (excluding self).

    Output: (query_id, neighbor_id, rank) — integers only, rank 1..k by
    cosine desc with neighbor_id as the deterministic tiebreak. The query
    side is broadcast (queries are few); the corpus streams through one
    projection + one top-k window per query partition."""
    from liq_stream_spark.operators.skew import spread_for_compute

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # the corpus side carries the |corpus| x |queries| Arrow cosine pass
    # — an input in fewer splits than the session has cores (single-
    # row-group parquet) would run it on one task; hash-spread on the
    # id first (simhash_table's guard; no-op at 100 TB — r13)
    c = spread_for_compute(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        key_cols=["neighbor_id"],
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine_fast("qv", "cv"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
        )
    )


def knn_label_vote(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN classification: majority label among the top-k neighbors.

    Output: (query_id, pred_label) — ties broken toward the smaller label
    value for engine-agnostic determinism."""
    topk = cosine_topk(queries, corpus, k, id_col, vec_col)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nb_label")
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "nb_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("nb_label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("nb_label").cast("long").alias("pred_label"))
    )


# fixed pseudo-random hyperplanes for sign-LSH, derived from the same
# deterministic integer hash family used by MinHash: component j of
# hyperplane p = ((a * (j*97 + p*131 + 1) + b) mod 2^31-1) / (2^31-1) - 0.5
_LSH_PLANES = 6
_LSH_TABLES = 4


def _plane_component(p: int, j: str) -> str:
    from liq_stream_spark.operators.dedup import MERSENNE31, MINHASH_PERMS

    a, b = MINHASH_PERMS[p % len(MINHASH_PERMS)]
    return (
        f"((({a}L * ({j} * 97 + {p * 131 + 1}) + {b}L) % {MERSENNE31}) "
        f"/ CAST({MERSENNE31} AS DOUBLE) - 0.5)"
    )


def lsh_bucket(vec_col: str, n_planes: int, table: int = 0) -> Column:
    """Sign-LSH bucket id for one hash table: bit p = 1 iff
    dot(vec, plane_{table,p}) > 0.

    ``n_planes = 0`` is the EXACT DEGENERATION: zero sign bits means one
    bucket holding everything, so the candidate set is every pair and the
    LSH operators become provably equal to their exact baselines — the
    verification parameterization (small corpora only: the single bucket
    is a single shuffle partition)."""
    if n_planes == 0:
        return F.lit(0).cast("long")
    bits = []
    for p in range(n_planes):
        comp = _plane_component(table * n_planes + p, "i")
        dot = (
            f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1), "
            f"(x, i) -> CAST(x AS DOUBLE) * {comp}), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(f"CASE WHEN {dot} > 0 THEN shiftleft(1L, {p}) ELSE 0L END")
    return F.expr(" + ".join(bits)).cast("long")


def _with_buckets(
    df: DataFrame, id_alias: str, vec_alias: str,
    id_col: str, vec_col: str, n_planes: int, n_tables: int,
) -> DataFrame:
    buckets = F.array(
        *[lsh_bucket(vec_col, n_planes, t) for t in range(n_tables)]
    )
    return df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        F.posexplode(buckets).alias("table", "bucket"),
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = _LSH_PLANES,
    n_tables: int = _LSH_TABLES,
) -> DataFrame:
    """Approximate top-k with multi-table sign-LSH: a candidate is scored
    iff it shares a bucket with the query in ANY of the ``n_tables`` hash
    tables (union of tables = higher recall at linear candidate cost).
    Same output shape as cosine_topk; recall < 1 by design. The equi-join
    on (table, bucket) replaces the cross join — the shape that survives a
    1000-executor corpus; more tables / fewer planes trades shuffle volume
    for recall without ever going quadratic."""
    q = _with_buckets(queries, "query_id", "qv", id_col, vec_col, n_planes, n_tables)
    c = _with_buckets(corpus, "neighbor_id", "cv", id_col, vec_col, n_planes, n_tables)
    cand = (
        q.join(c, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn("cos", cosine_fast("qv", "cv"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-routed scale path
# ---------------------------------------------------------------------------


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means in pure DataFrame ops: seeds are the
    ``n_cells`` smallest-id vectors, then ``iters`` Lloyd rounds
    (assign-by-cosine -> per-cell mean via posexplode/groupBy/avg).
    Returns a tiny (cell, centroid) DataFrame, collected and re-created on
    the driver so downstream joins reuse 16 rows instead of re-running the
    iteration lineage. At 100 TB this is the offline index build: one
    crossJoin of corpus x broadcast(centroids) per round, aggregation is
    map-side combinable per (cell, dim)."""
    spark = corpus.sparkSession
    cents = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(
            F.row_number()
            .over(W.orderBy(F.col(id_col).asc()))
            .cast("long")
            .alias("cell"),
            F.col(vec_col).cast("array<double>").alias("centroid"),
        )
    )
    schema = "cell long, centroid array<double>"
    cents = spark.createDataFrame(cents.collect(), schema)
    for _ in range(iters):
        assigned = _assign_cells(corpus, cents, id_col, vec_col)
        means = (
            assigned.select("cell", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
        )
        cents = spark.createDataFrame(means.collect(), schema)
    return cents


def _assign_cells(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(vid, vec, cell): nearest centroid by cosine, smaller cell id as the
    deterministic tiebreak. centroids is broadcast — the corpus never
    shuffles to be assigned.

    The argmax is a ``max_by`` AGGREGATE, not a row_number window: both
    shuffle on vid, but the agg partial-combines map-side, so each
    corpus row crosses the wire once instead of n_cells times and
    nothing sorts (r7 profile: the window form shuffled+sorted the full
    corpus-x-cells expansion). Same order as the window it replaces —
    lexicographic struct max on (score, -cell) ≡ ORDER BY cos DESC,
    cell ASC: cosine ≥ -1, so the -2.0 NULL fill ranks zero-norm
    (NULL-scored) rows below every real score exactly like the
    window's default NULLS LAST, and -cell breaks score ties toward
    the smaller cell on both paths."""
    scored = (
        df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .crossJoin(F.broadcast(centroids))
        # rank on the 9-dp-rounded cosine so the argmax is robust to
        # ulp-level engine differences (Spark's partition-order avg can
        # move a centroid by 1 ulp vs the oracle's sequential sum);
        # within 1e-9 the deterministic cell tiebreak decides on BOTH
        # engines instead of an unstable float comparison
        .withColumn("cos", F.round(cosine_fast("vec", "centroid"), 9))
    )
    best = F.max_by(
        F.struct("cell", "vec"),
        F.struct(F.coalesce("cos", F.lit(-2.0)).alias("s"), (-F.col("cell")).alias("c")),
    )
    return (
        scored.groupBy("vid")
        .agg(best.alias("__best"))
        .select("vid", F.col("__best.vec").alias("vec"), F.col("__best.cell").alias("cell"))
    )


def _probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, qv, cell): each query's ``nprobe`` nearest centroid
    cells — the IVF router, shared by ivf_topk / ivfpq_topk and the
    store probes. Centroids are broadcast; the 9-dp rounding mirrors
    _assign_cells so probe ranking agrees with an oracle whose centroid
    means can differ at ulp level (near-ties fall to the deterministic
    smaller-cell tiebreak on both engines — the s09 genuinely-pruned
    oracle relies on this)."""
    qscored = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        .crossJoin(F.broadcast(centroids))
        .withColumn("cos", F.round(cosine_fast("qv", "centroid"), 9))
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cell"))
    return (
        qscored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "cell")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame | None,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    inverted: DataFrame | None = None,
    probes: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    cell (the inverted file); each query probes its ``nprobe`` nearest
    cells and exact-rescoring runs only inside probed cells.

    The scale shape: the inverted file is the corpus partitioned by cell
    (bucket by cell in storage and the probe join is shuffle-free), the
    probe list is a broadcast equi-join key, and per-query work drops by
    ~nprobe/n_cells versus brute force. ``nprobe = n_cells`` degenerates to
    exact brute-force search — equality with cosine_topk is the plumbing
    invariant tested in tests/test_llm_ops.py; recall at nprobe < n_cells
    is the measured trade. Queries with fewer than k candidates in their
    probed cells return fewer than k rows (standard IVF semantics).

    Pass a prebuilt ``centroids`` (kmeans_centroids) to reuse one index
    across query batches — the offline-build/online-probe split IVF is
    for — and/or a prebuilt ``inverted`` file ((neighbor_id, cell, vec),
    e.g. store.write_ivf_index's layout) so the probe pays NO assignment
    pass at all; with both supplied ``corpus`` may be None. A prebuilt
    ``probes`` frame ((query_id, qv, cell), e.g. the store probes'
    collected router output) additionally replaces the in-plan routing
    — then neither ``queries`` nor ``centroids`` appears in the plan."""
    if probes is None:
        if centroids is None:
            if corpus is None:
                raise ValueError("corpus is required to build centroids")
            centroids = kmeans_centroids(
                corpus, n_cells, iters, id_col, vec_col
            )
        probes = _probe_cells(queries, centroids, nprobe, id_col, vec_col)
    if inverted is None:
        if corpus is None:
            raise ValueError("corpus is required to build the inverted file")
        if centroids is None:
            raise ValueError("centroids are required to build the inverted file")
        inverted = _assign_cells(corpus, centroids, id_col, vec_col).select(
            F.col("vid").alias("neighbor_id"), F.col("vec").alias("cv"), "cell"
        )
    else:
        inverted = inverted.select(
            "neighbor_id",
            F.col("vec").alias("cv"),
            F.col("cell").cast("long").alias("cell"),
        )
    cand = (
        inverted.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
    )
    scored = cand.withColumn("cos", cosine_fast("qv", "cv"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
        )
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = _LSH_PLANES,
    n_tables: int = _LSH_TABLES,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t).

    DEFAULT = the scale path: sign-LSH buckets generate candidates via an
    equi-join on (table, bucket), then candidates are exact-rescored — the
    corpus never cross-joins, so the plan survives a 1000-executor corpus.
    Precision is exact (every emitted pair truly clears the threshold);
    recall < 1 for low thresholds (near-orthogonal vectors rarely share
    sign buckets — by design; real near-dup dedup runs at ~0.9+, where
    per-table collision probability is (1 - θ/π)^planes ≈ 0.8^6).
    More tables raise recall linearly in shuffle volume, never quadratically.

    For an exact answer (oracle verification, small corpora) use
    :func:`cosine_near_dup_pairs_exact`."""
    bucketed = _with_buckets(df, "vid", "vec", id_col, vec_col, n_planes, n_tables)
    a = bucketed.select(
        "table", "bucket", F.col("vid").alias("id_a"), F.col("vec").alias("va")
    )
    b = bucketed.select(
        "table", "bucket", F.col("vid").alias("id_b"), F.col("vec").alias("vb")
    )
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "va", "id_b", "vb")
        .dropDuplicates(["id_a", "id_b"])  # a pair may collide in many tables
    )
    return (
        cand.withColumn("cos", cosine_fast("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
    )


def auto_n_cells(n_rows: int, target_cell_size: int = 4096) -> int:
    """Cluster count that keeps the within-cell quadratic bounded as the
    corpus grows: ``max(16, ceil(n / target_cell_size))``. At fixture
    scale (hundreds of rows) this floors at 16; at 1B vectors it yields
    ~244k cells — the SemDeDup paper's regime (~100k clusters at LAION
    scale) — so per-cell work stays ~target_cell_size² and the cell join's
    parallelism grows with the data instead of relying on the caller."""
    if n_rows < 0 or target_cell_size < 1:
        raise ValueError("n_rows >= 0 and target_cell_size >= 1 required")
    return max(16, -(-n_rows // target_cell_size))


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int | None = None,
    threshold: float = 0.95,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    target_cell_size: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding — cluster the corpus with k-means, then
    inside each cluster drop every vector that has a SMALLER-id
    neighbor at cosine >= ``threshold``.

    This is the distributed variant of the paper's greedy per-cluster
    sweep: the drop rule is a pure per-pair predicate (exists smaller-id
    in-cell neighbor above threshold), so it parallelizes as one
    within-cell self-equi-join instead of a sequential scan — and it is
    deterministic, so the whole operator is SQL-reproducible. Slightly
    more aggressive than sequential greedy on chains (a kept
    representative's own near-dups still count as droppers), which for
    dedup errs on the safe side of the paper's semantics.

    Scale shape: the clustering is the same offline broadcast k-means as
    IVF (centroids are the broadcast side; the corpus never shuffles to
    be assigned); candidate pairing never leaves a cell, so the
    quadratic term is bounded by (N/n_cells)^2 per cell — n_cells is the
    skew valve, exactly the paper's recipe (they run ~100k clusters at
    LAION scale).

    ``n_cells=None`` (the default) derives the cluster count from the
    corpus size via :func:`auto_n_cells` — one count() at build time —
    so callers can't accidentally shuffle a 100 TB corpus into 16
    partitions by leaving the valve at its fixture setting.

    Output: (vec_id, cell, is_kept) for EVERY corpus vector."""
    if n_cells is None:
        n_cells = auto_n_cells(corpus.count(), target_cell_size)
    if centroids is None:
        centroids = kmeans_centroids(corpus, n_cells, iters, id_col, vec_col)
    # one assignment pass, materialized: the cells frame feeds three
    # consumers (both pair sides + the final output) and DataFrame
    # lineage has no common-subexpression reuse — without the checkpoint
    # the corpus would be assigned (scanned + shuffled) three times.
    # The pin itself starts no job (the k-means build above does: it
    # collects tiny centroid frames); see ARCHITECTURE.md "Materialization".
    cells = pin(_assign_cells(corpus, centroids, id_col, vec_col))
    a = cells.select(
        "cell", F.col("vid").alias("id_a"), F.col("vec").alias("va")
    )
    b = cells.select(
        "cell", F.col("vid").alias("id_b"), F.col("vec").alias("vb")
    )
    droppers = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_fast("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
    )
    return (
        cells.join(droppers.withColumn("__drop", F.lit(True)), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# PQ (product quantization) ANN — the memory-compression scale path
# ---------------------------------------------------------------------------


def _l2sq(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _unit(vec_col: str) -> Column:
    """L2-normalize so squared-L2 ordering == cosine ordering
    (||a-b||^2 = 2 - 2 cos on the unit sphere). Zero vectors stay zero."""
    n = _norm(vec_col)
    v = F.col(vec_col).cast("array<double>")
    return F.when(n == 0, v).otherwise(F.transform(v, lambda x: x / n))


def _corpus_dim(corpus: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first corpus row, with a
    descriptive error on an empty corpus (instead of the opaque
    TypeError that ``first()[0]`` would raise)."""
    row = corpus.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            "PQ/IVF index build requires a non-empty corpus with non-null "
            f"'{vec_col}' vectors (got an empty corpus or null first vector)"
        )
    return len(row[0])


def _subspaces(df: DataFrame, id_alias: str, m: int, d_sub: int) -> DataFrame:
    """(id, s, subvec): each unit vector split into m contiguous slices."""
    subs = F.array(
        *[
            F.slice(F.col("__u"), s * d_sub + 1, d_sub)
            for s in range(m)
        ]
    )
    return df.select(
        F.col("__vid").alias(id_alias), F.posexplode(subs).alias("s", "subvec")
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace L2 k-means codebooks for product quantization.

    Vectors are unit-normalized, split into ``m`` contiguous subspaces,
    and each subspace learns ``n_codes`` centroids (seeds = the smallest-id
    vectors' subvectors, then ``iters`` Lloyd rounds; argmin ties break
    toward the smaller code). Returns a tiny (s, code, centroid) DataFrame
    collected and re-created driver-side — the offline index build. Every
    Lloyd round is one broadcast join + one map-side-combinable mean: the
    corpus never shuffles its vectors.

    A Lloyd round that leaves a cluster empty drops that (s, code) row —
    the codebook may end up with fewer than ``n_codes`` centroids per
    subspace (standard k-means behavior; assignment stays correct since
    codes are looked up by value, never assumed dense)."""
    spark = corpus.sparkSession
    dim = _corpus_dim(corpus, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    base = corpus.select(
        F.col(id_col).alias("__vid"), _unit(vec_col).alias("__u")
    )
    sub = _subspaces(base, "vid", m, d_sub)

    seeds = (
        _subspaces(
            base.orderBy(F.col("__vid").asc()).limit(n_codes), "vid", m, d_sub
        )
        .withColumn(
            "code",
            F.row_number()
            .over(W.partitionBy("s").orderBy(F.col("vid").asc()))
            .cast("long")
            - 1,
        )
        .select("s", "code", F.col("subvec").alias("centroid"))
    )
    schema = "s int, code long, centroid array<double>"
    books = spark.createDataFrame(seeds.collect(), schema)
    for _ in range(iters):
        assigned = _pq_assign(sub, books)
        means = (
            assigned.select(
                "s", "code", F.posexplode("subvec").alias("pos", "x")
            )
            .groupBy("s", "code", "pos")
            .agg(F.avg("x").alias("mval"))
            .groupBy("s", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                    lambda st: st["mval"],
                ).alias("centroid")
            )
        )
        books = spark.createDataFrame(means.collect(), schema)
    return books


def _pq_assign(sub: DataFrame, books: DataFrame) -> DataFrame:
    """(vid, s, code, subvec): nearest centroid per (vector, subspace) by
    squared L2; the codebooks are broadcast, min_by avoids any window.
    The argmin compares the 9-dp-rounded distance (same rounding in the
    DuckDB oracle) so near-ties fall to the deterministic code tiebreak
    on both engines instead of an ulp-sensitive float comparison."""
    joined = sub.join(F.broadcast(books), "s").withColumn(
        "__d", F.round(_l2sq("subvec", "centroid"), 9)
    )
    return (
        joined.groupBy("vid", "s")
        .agg(
            F.min_by(
                F.struct("code", "subvec"), F.struct("__d", "code")
            ).alias("__best")
        )
        .select(
            "vid",
            "s",
            F.col("__best.code").alias("code"),
            F.col("__best.subvec").alias("subvec"),
        )
    )


def _d_sub(
    corpus: DataFrame | None,
    codebooks: DataFrame,
    m: int,
    vec_col: str,
) -> int:
    """Subspace width. From the corpus dim when a corpus frame is at
    hand; otherwise from the stored codebooks' centroid length (one
    first() over a 16-256-row index frame) — the store probes carry no
    corpus at all."""
    if corpus is not None:
        dim = _corpus_dim(corpus, vec_col)
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m {m}")
        return dim // m
    return len(codebooks.select("centroid").first()["centroid"])


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame | None,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k via asymmetric distance
    computation (ADC): the corpus is stored as ``m`` small codes per
    vector (here 8 codes x 16 centroids = 4 bytes vs 256 bytes of float32,
    a 64x memory/IO compression — THE reason PQ survives 100 TB of
    embeddings); each query precomputes a (s, code) -> partial-distance
    table against the broadcast codebooks and candidate distances are one
    equi-join + sum, never touching raw corpus floats.

    Output shape matches cosine_topk: (query_id, neighbor_id, rank), rank
    by ascending approximate distance (== descending approximate cosine on
    unit vectors), neighbor_id tiebreak. Approximate by construction —
    recall is the measured trade (tests/test_llm_ops.py); combine with the
    IVF router (ivf_topk) for IVF-PQ when candidate pruning is also needed.

    Pass a prebuilt ``codebooks`` (pq_codebooks) to amortize one index
    across query batches, and/or prebuilt ``codes`` ((neighbor_id, s,
    code), e.g. store.write_pq_index's layout) so the probe never
    touches raw corpus floats; with both supplied ``corpus`` may be
    None."""
    if codebooks is None:
        if corpus is None:
            raise ValueError("corpus is required to build codebooks")
        codebooks = pq_codebooks(corpus, m, n_codes, iters, id_col, vec_col)
    d_sub = _d_sub(corpus, codebooks, m, vec_col)
    if codes is None:
        if corpus is None:
            raise ValueError("corpus is required to encode PQ codes")
        cbase = corpus.select(
            F.col(id_col).alias("__vid"), _unit(vec_col).alias("__u")
        )
        codes = _pq_assign(_subspaces(cbase, "vid", m, d_sub), codebooks).select(
            F.col("vid").alias("neighbor_id"), "s", "code"
        )
    else:
        codes = codes.select(
            "neighbor_id",
            F.col("s").cast("int").alias("s"),
            F.col("code").cast("long").alias("code"),
        )

    qbase = queries.select(
        F.col(id_col).alias("__vid"), _unit(vec_col).alias("__u")
    )
    qtable = (
        _subspaces(qbase, "query_id", m, d_sub)
        .join(F.broadcast(codebooks), "s")
        # partial distances round to 9 dp (mirrored in the oracle SQL) so
        # the summed ADC distance is built from engine-identical addends
        .select(
            "query_id",
            "s",
            "code",
            F.round(_l2sq("subvec", "centroid"), 9).alias("pd"),
        )
    )
    scored = (
        codes.join(F.broadcast(qtable), ["s", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        # re-round the sum: addition order differs per engine/partition,
        # so the last ulp of the raw sum is not comparison-safe
        .agg(
            F.round(F.sum("pd"), 9).alias("adist"),
            F.count(F.lit(1)).alias("__m"),
        )
        # only vectors scored in every subspace (always true by construction)
        .filter(F.col("__m") == m)
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
        )
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame | None,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    probes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the ivf_topk router composed with pq_topk's compression —
    the shape production ANN engines (FAISS IVFPQ) run at billions of
    vectors. The inverted file prunes WHICH vectors are scored
    (~nprobe/n_cells of the corpus); PQ codes shrink WHAT is stored and
    shipped (8 codes = 8 bytes vs 256 bytes float32). Candidate scoring is
    ADC: corpus codes equi-join the broadcast per-query distance table on
    (s, code) after the cell-probe join — raw corpus floats appear nowhere
    downstream of the (offline) encode.

    Plain-PQ variant (codes quantize raw unit vectors, not cell
    residuals): simpler, and at nprobe = n_cells it is EXACTLY pq_topk —
    the plumbing invariant tested in tests/test_corpus_shaping.py.
    Residual encoding is the standard refinement when cells are tight.

    Queries whose probed cells hold fewer than k coded vectors return
    fewer than k rows (standard IVF semantics, same as ivf_topk).

    Pass prebuilt ``centroids``/``codebooks``/``codes`` ((neighbor_id,
    s, code, cell), e.g. store.write_pq_index's cell-carrying layout) to
    probe a stored index; with all three supplied ``corpus`` may be
    None. A prebuilt ``probes`` frame ((query_id, cell)) replaces the
    in-plan routing (the store probes collect the router output once)."""
    if probes is None:
        if centroids is None:
            if corpus is None:
                raise ValueError("corpus is required to build centroids")
            centroids = kmeans_centroids(
                corpus, n_cells, iters, id_col, vec_col
            )
        probes = _probe_cells(queries, centroids, nprobe, id_col, vec_col)
    probes = probes.select("query_id", "cell")
    if codebooks is None:
        if corpus is None:
            raise ValueError("corpus is required to build codebooks")
        codebooks = pq_codebooks(corpus, m, n_codes, iters, id_col, vec_col)
    d_sub = _d_sub(corpus, codebooks, m, vec_col)

    if codes is None:
        if corpus is None:
            raise ValueError("corpus is required to encode PQ codes")
        if centroids is None:
            # only reachable with caller-supplied probes: retraining
            # here could assign cell ids that disagree with the routing
            # the probes were built from — garbage matches, no error
            raise ValueError(
                "centroids are required to encode PQ codes — pass the "
                "same centroids the probes were routed with"
            )
        # offline: cell per vector (router) + PQ codes per (vector, subspace)
        cells = _assign_cells(corpus, centroids, id_col, vec_col).select(
            F.col("vid").alias("neighbor_id"), "cell"
        )
        cbase = corpus.select(
            F.col(id_col).alias("__vid"), _unit(vec_col).alias("__u")
        )
        codes = (
            _pq_assign(_subspaces(cbase, "vid", m, d_sub), codebooks)
            .select(F.col("vid").alias("neighbor_id"), "s", "code")
            .join(cells, "neighbor_id")
        )
    else:
        codes = codes.select(
            "neighbor_id",
            F.col("s").cast("int").alias("s"),
            F.col("code").cast("long").alias("code"),
            F.col("cell").cast("long").alias("cell"),
        )

    # online: the ADC table over the (already routed) probe cells
    qbase = queries.select(
        F.col(id_col).alias("__vid"), _unit(vec_col).alias("__u")
    )
    qtable = (
        _subspaces(qbase, "query_id", m, d_sub)
        .join(F.broadcast(codebooks), "s")
        # same 9-dp rounding of pd / adist as pq_topk (oracle-mirrored)
        .select(
            "query_id",
            "s",
            "code",
            F.round(_l2sq("subvec", "centroid"), 9).alias("pd"),
        )
    )
    scored = (
        codes.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(qtable), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("pd"), 9).alias("adist"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
        )
    )


def cosine_near_dup_pairs_exact(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact (full pair scoring) variant — quadratic; VERIFIER ONLY.

    Kept as the oracle-checked baseline at small SF and the recall
    reference for the bucketed default. Do not run against a large corpus:
    the crossJoin is O(N²) by construction."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_fast("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
    )
