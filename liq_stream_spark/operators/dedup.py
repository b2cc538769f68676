"""Deduplication operator family for LLM-data pipelines (SURVEY.md §2.8).

Five strategies, all DataFrame-native:

- exact           : hash-groupBy on the content column (one shuffle)
- minhash + LSH   : shingle -> k minhashes -> banded bucket join; candidate
                    pairs come from equal band keys, never a cross join
- simhash         : 64-bit signature per doc (see operators/text.py); near
                    dups = small Hamming distance within 16-bit signature
                    blocks (pigeonhole-lossless for Hamming <= 3)
- n-gram Jaccard  : exact set similarity via a shingle self-join (the
                    verifier for what MinHash approximates)
- embedding cosine: see operators/similarity.py

Determinism: MinHash permutations are fixed (a_j, b_j) pairs over the
base-131 shingle hash, mod the Mersenne prime 2^31-1 — pure int64
arithmetic reproduced exactly by the DuckDB oracle. Hash collisions (2^32
shingle space) affect both engines identically, so oracle equality is
unaffected.

Scale notes (100 TB): the LSH pipeline is shuffle-bound on the band-key
groupBy. Band keys are short strings; skew (a degenerate band bucket, e.g.
all-empty docs) is bounded by ``max_bucket`` — buckets above it are dropped
exactly like data-sketches dedup pipelines cap posting lists. Pair
generation is per-bucket quadratic, hence the cap. Everything stays
JVM-side.

Materialization caveat (ADVICE r7): the multi-consumer intermediates in
this family (shingle/posting/signature/edge tables) are pinned with
``localCheckpoint`` so an expensive Arrow UDF pass runs once per plan,
not once per consumer. Two costs come with that choice. SIZE: a pinned
SHINGLE table is ~16 bytes per (doc, distinct-gram) row — roughly one
row per character of source text, so the block can match or EXCEED the
input corpus size (only the (id, simhash) and pair tables are genuinely
negligible). RELIABILITY: :func:`liq_stream_spark.pins.pin` decides the
storage. Without a checkpoint dir the pin is an unreplicated
``localCheckpoint``: losing an executor mid-job fails the job instead of
recomputing, and dynamic allocation can reap the hosting executor. On
clusters with either risk, set a checkpoint dir
(``sparkContext.setCheckpointDir``); every pin in the package then writes
a reliable ``checkpoint()`` there, one distributed write for
restartability. Either kind computes its frame once, which the plans'
UDF-runs-once invariant relies on (tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from liq_stream_spark.operators.text import (
    MASK32,
    char_ngram_hash_sql,  # noqa: F401 — re-exported for oracle builders
    char_ngram_hashes_fast,
    np,
    pd,
)
from liq_stream_spark.pins import pin

MERSENNE31 = 2147483647  # 2^31 - 1


# fixed, deterministic permutation constants (k = 16); generated once from
# a fixed seed and hardcoded so Spark and the SQL oracle agree forever
MINHASH_PERMS: list[tuple[int, int]] = [
    (1203077387, 528734109),
    (686579303, 1353872483),
    (1843712703, 81952327),
    (406174895, 1984913477),
    (1521263233, 912837461),
    (233009141, 1759218405),
    (1098237587, 354671209),
    (871263405, 1620394817),
    (1932748531, 205917683),
    (556203947, 1431086329),
    (1287465809, 759302117),
    (93284657, 1873645231),
    (1654098731, 482917365),
    (745612903, 1102938475),
    (2045731861, 633018527),
    (318264179, 1548370291),
]


def dedup_exact(
    df: DataFrame, on: list[str] | str, id_col: str
) -> DataFrame:
    """Exact dedup: one row per distinct ``on`` value, the minimum ``id_col``
    as the canonical representative, plus the duplicate count.

    At scale this is a single hash-shuffle on the content key; for long
    text keys, group on a hash of the content instead (same plan shape)."""
    keys = [on] if isinstance(on, str) else list(on)
    return df.groupBy(*keys).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def minhash_sig_arrays(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    ngram: int = 3,
) -> DataFrame:
    """(id, sig array<long>[k]) MinHash signatures as one narrow
    projection.

    minhash_j = min over shingles s of (a_j * h(s) + b_j) mod (2^31-1).
    With Arrow available the whole signature is computed per doc in numpy
    (shingle hashing + the k permuted mins in one (shingles x k) matrix
    op): NO explode, NO groupBy shuffle, NO join — at 100 TB parallelism
    is input splits and nothing moves. The fallback keeps the explode +
    k codegen'd min-aggregates shape (map-side combinable). Docs shorter
    than the shingle width get the empty-set sentinel 2^31-1 for every
    perm, matching the oracle. (`array_distinct` on shingles is
    unnecessary: min over a function of the shingle set ignores
    multiplicity.)"""
    from liq_stream_spark.operators.text import _doc_shingles

    if k > len(MINHASH_PERMS):
        raise ValueError(f"k <= {len(MINHASH_PERMS)} supported")

    if pd is not None and np is not None:
        A = np.array([a for a, _ in MINHASH_PERMS[:k]], dtype=np.uint64)
        B = np.array([b for _, b in MINHASH_PERMS[:k]], dtype=np.uint64)
        sentinel = np.full(k, MERSENNE31, dtype=np.int64)

        @F.pandas_udf("array<long>")
        def _mh(texts: pd.Series) -> pd.Series:
            out = []
            for s in texts:
                sh = _doc_shingles(s, ngram)
                if len(sh) == 0:
                    out.append(sentinel)
                    continue
                # (shingles x k): a_j * h + b_j mod M31; a*h < 2^63 so the
                # uint64 product is exact
                vals = (sh[:, None] * A[None, :] + B[None, :]) % np.uint64(
                    MERSENNE31
                )
                out.append(vals.min(axis=0).astype(np.int64))
            return pd.Series(out)

        from liq_stream_spark.operators.skew import spread_for_compute

        # the signing pass is the chain's per-row hot spot: an input
        # arriving in fewer splits than the session has cores (single-
        # row-group parquet, gzipped dumps) would run it on ONE task —
        # hash-spread on the id first, like simhash_table (no-op at
        # 100 TB where splits >= cores; r13)
        return spread_for_compute(df, key_cols=[id_col]).select(
            F.col(id_col), _mh(text_col).alias("sig")
        )

    shingles = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(char_ngram_hashes_fast(text_col, ngram))).alias("x"),
    )
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % MERSENNE31).alias(f"m{j}")
        for j, (a, b) in enumerate(MINHASH_PERMS[:k])
    ]
    wide = shingles.groupBy(id_col).agg(*aggs)
    # docs shorter than the shingle width have no rows after explode; they
    # re-enter with the empty-set sentinel (2^31-1), matching the oracle
    wide = df.select(id_col).join(wide, id_col, "left")
    sig_arr = F.array(
        *[
            F.coalesce(F.col(f"m{j}"), F.lit(MERSENNE31)).cast("long")
            for j in range(k)
        ]
    )
    return wide.select(F.col(id_col), sig_arr.alias("sig"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    ngram: int = 3,
) -> DataFrame:
    """Long-form MinHash signatures: (id, perm_id, minhash) — the oracle/
    interchange shape; posexplode of the narrow array form.

    posexplode_OUTER: an inner posexplode makes Catalyst infer a
    size(sig) > 0 filter below the Generate, which splits the Arrow
    signing pass into a filter evaluation plus a project evaluation —
    the whole UDF runs TWICE (r7 audit; outer generates skip that
    inference). The signature array is never NULL or empty (empty docs
    get the k-long sentinel array), so the outer form emits identical
    rows."""
    wide = minhash_sig_arrays(df, id_col, text_col, k, ngram)
    return wide.select(
        F.col(id_col), F.posexplode_outer("sig").alias("perm_id", "minhash")
    ).select(
        F.col(id_col),
        F.col("perm_id").cast("long").alias("perm_id"),
        F.col("minhash").cast("long").alias("minhash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Banded LSH: docs sharing ALL minhashes within any band are candidate
    duplicates. Input is the long-form signature table; output is distinct
    (id_a < id_b) pairs.

    Plan shape: groupBy(id, band) packs each band's minhashes into one
    string key -> self-join on (band, key) -> distinct pairs. The join is
    equi (band bucket), never a cross join; oversized buckets (degenerate
    content) are capped at ``max_bucket`` docs.

    When the downstream consumer only needs CONNECTIVITY (clusters,
    survivor sets) rather than the pair list itself, use
    :func:`lsh_star_edges` instead — same components, linearly fewer
    edges."""
    banded = (
        signatures.withColumn("band", (F.col("perm_id") / rows_per_band).cast("int"))
        .filter(F.col("band") < bands)
        .groupBy(id_col, "band")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("perm_id", "minhash"))
                    ).getField("minhash"),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("band_key")
        )
    )
    return _pairs_from_banded(banded, id_col, max_bucket)


def lsh_candidate_pairs_banded(
    sig_wide: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = 1000,
    chunk: int = 256,
    min_agree: int | None = None,
) -> DataFrame:
    """LSH candidate pairs straight from the array-form signatures
    (minhash_sig_arrays): band keys are sliced out of the in-row array, so
    the groupBy(id, band) collect shuffle of the long-form path disappears.
    Identical output to lsh_candidate_pairs on the same docs.

    Uncapped (``max_bucket=None``, the oracle/verify setting d03/d12/d13/
    d14 run): pairs are emitted EXACTLY ONCE BY CONSTRUCTION (VERDICT r5
    item 5) — each posting-list row carries the doc's full band-key
    array, and a pair expands only at its FIRST shared band (an in-row
    earlier-band check), so the plan needs NO distinct over the
    quadratic expansion. The dedup work that distinct did over ~|pairs|
    x |bands| expanded rows becomes an O(bands) string compare inside
    the expansion.

    The expansion itself is CHUNK-PARALLEL: a bucket's sorted posting
    list is cut into ``chunk``-sized slices and each (slice_i, slice_j)
    pair (i <= j; a triangle within a slice, a full cross of two slices
    otherwise — every unordered doc pair lands in exactly one such row,
    so exactly-once emission is preserved) becomes its own row,
    round-robined across the cluster before the in-row pair generation
    runs. Without this a degenerate bucket's O(n^2) expansion serializes
    into the ONE task that owns its (band, key) — a 1,166-member bucket
    in the sf0.1 fixture generated 40% of all pairs in one task, and a
    degenerate-content bucket at 100 TB would be a straggler however
    many executors exist. Price: each posting list crosses ONE extra
    round-robin exchange, duplicated ceil(n/chunk) times for an
    n-member bucket — linear in the posting data and ~1x for the
    common small bucket, against an expansion output that is quadratic
    in n; per-task work is bounded by chunk^2 pairs.

    Capped (``max_bucket`` set, the 100 TB degenerate-content valve):
    falls back to the expand-then-distinct shape. The first-band rule
    cannot see whether a pair's first shared band was itself a capped
    (dropped) bucket — suppressing on it would lose pairs the old
    semantics kept via their later bands — and the cap already bounds
    the expansion the distinct runs over, so the distinct is cap-bounded
    there, not corpus-bounded.

    Memory price of the in-row earlier-band check (ADVICE r6): the
    uncapped posting lists collect struct(id, full band-key array), so a
    bucket's collect_list agg buffer grows ~``bands`` x key-string-size
    per member versus an ids-only collect (~25x at the default 4 bands
    of 4-minhash comma-joined keys) — and uncapped degenerate buckets
    are exactly where that buffer is largest. The keys must be the
    ACTUAL band keys, not fixed-width hashes: the bucket join and the
    earlier-band equality must agree exactly (a hash collision in the
    check alone would silently DROP a pair; hashing both sides would
    ADD phantom candidates and break oracle parity). Deployments whose
    degenerate buckets outgrow executor memory should set ``max_bucket``
    — that is what the valve is for.

    ``min_agree`` (uncapped path only) FUSES MinHash-estimate
    verification into the pair expansion: each posting-list struct
    additionally carries the doc's full signature array, and a pair is
    emitted only when its two signatures agree on at least ``min_agree``
    permutations — exactly the pairs
    ``minhash_jaccard_estimates(sig_wide, pairs).filter(n_agree >=
    min_agree)`` selects, computed IN-ROW at emission time instead of
    re-joining the corpus-sized signature frame onto both pair sides
    (two equi-join shuffles shipping one k-long array per candidate
    side; the d14 chain's dominant pre-loop cost — r13). The agreement
    count reads the same ``sig`` arrays the join shipped, so the
    surviving pair set is identical by construction; exactly-once
    emission (first-shared-band) is untouched because the verification
    filter is a further restriction applied inside the same per-pair
    lambda. Memory price: the posting struct grows by k longs per
    member on top of the band-key strings (~1.8x; same degenerate-
    bucket valve discussion as above). The capped path refuses the
    knob: it verifies via the join form, whose distinct interacts with
    the cap."""
    # validate BEFORE the capped-path early return so an invalid chunk is
    # rejected on every path, not only the uncapped one (ADVICE r7)
    if chunk < 1:
        raise ValueError("chunk must be >= 1")
    if min_agree is not None and max_bucket is not None:
        raise ValueError(
            "min_agree fuses verification into the uncapped expansion; "
            "the capped path verifies via minhash_jaccard_estimates. "
            "Pass max_bucket=None explicitly to use min_agree (the "
            "default cap of 1000 is otherwise in effect)."
        )
    if max_bucket is not None:
        banded = _banded_keys(sig_wide, id_col, bands, rows_per_band)
        return _pairs_from_banded(banded, id_col, max_bucket)

    fused = min_agree is not None
    key_cols = [
        F.col(id_col),
        _band_key_array(bands, rows_per_band).alias("__bk"),
    ]
    if fused:
        key_cols.insert(1, F.col("sig"))
    with_keys = sig_wide.select(*key_cols)
    # posexplode_OUTER so Catalyst's InferFiltersFromGenerate does not
    # add a size(__bk) > 0 filter below the Generate and split the Arrow
    # signing pass into two full evaluations (r7 audit; the band-key
    # array is never NULL/empty, and the != '' filter drops any NULL row
    # the outer form could emit)
    banded = with_keys.select(
        "*",
        F.posexplode_outer("__bk").alias("band", "band_key"),
    ).filter(F.col("band_key") != "")
    member_fields = [F.col(id_col).alias("i"), F.col("__bk").alias("k")]
    if fused:
        member_fields.append(F.col("sig").alias("s"))
    grouped = (
        banded.groupBy("band", "band_key")
        .agg(F.collect_list(F.struct(*member_fields)).alias("xs"))
        .filter(F.size("xs") > 1)
        # sort ONCE per bucket (id is unique, so struct order == id order)
        .select("band", F.array_sort("xs").alias("xs"))
    )
    # cut each bucket's sorted posting list into chunk-sized slices and
    # emit one row per slice pair (ci <= cj): a small bucket (n <= chunk)
    # is exactly one (0, 0) row, a degenerate bucket becomes
    # C*(C+1)/2 rows whose expansions spread over the cluster after the
    # round-robin repartition below. xb = empty slice marks the
    # same-slice (triangle) case without duplicating xa's bytes.
    nch = f"cast(ceil(size(xs) / {chunk}.0) as int)"
    chunk_rows = (
        f"flatten(transform(sequence(0, {nch} - 1), ci -> "
        f"transform(sequence(ci, {nch} - 1), cj -> "
        f"struct(slice(xs, ci * {chunk} + 1, {chunk}) AS xa, "
        f"if(cj = ci, slice(xs, 1, 0), "
        f"slice(xs, cj * {chunk} + 1, {chunk})) AS xb))))"
    )
    spread = grouped.select(
        "band", F.explode(F.expr(chunk_rows)).alias("cp")
    ).repartition(sig_wide.sparkSession.sparkContext.defaultParallelism)
    # emit (x, y) at band b only if NO earlier band j < b collides —
    # exactly the long-form pair set, each pair once at its first shared
    # band. element_at is 1-based; band is 0-based, so earlier bands are
    # j in [1, band]. An empty key never collides (neither doc is in
    # that band's index). Filter BEFORE building pair structs so the
    # expansion materializes two ids per surviving pair, never the
    # key arrays (the key compare reads x.k/y.k in place — measured 1.4x
    # on the whole d03 chain vs struct-then-filter). Within a slice the
    # triangle (i < j) keeps id_a < id_b; across slices every xa id
    # precedes every xb id (xs is id-sorted and slices are ordered).
    first_band_ok = (
        f"NOT exists(sequence(1, {bands}), j -> "
        "j <= band AND element_at(x.k, j) != '' "
        "AND element_at(x.k, j) = element_at(y.k, j))"
    )
    if fused:
        # in-row MinHash-estimate verification: count agreeing
        # permutations straight off the carried signature arrays —
        # the same integer minhash_jaccard_estimates' n_agree counts
        # after its two joins, so the surviving set is identical
        emit_ok = (
            f"({first_band_ok}) AND size(filter("
            f"zip_with(x.s, y.s, (p, q) -> p = q), v -> v))"
            f" >= {int(min_agree)}"
        )
    else:
        emit_ok = first_band_ok
    pair_expr = (
        "CASE WHEN size(cp.xb) = 0 THEN "
        "flatten(transform(cp.xa, (x, i) -> "
        "transform(filter(slice(cp.xa, i + 2, size(cp.xa)), "
        f"y -> {emit_ok}), "
        "y -> struct(x.i AS id_a, y.i AS id_b)))) "
        "ELSE "
        "flatten(transform(cp.xa, x -> "
        f"transform(filter(cp.xb, y -> {emit_ok}), "
        "y -> struct(x.i AS id_a, y.i AS id_b)))) END"
    )
    return (
        spread.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
    )


def _band_key_array(bands: int, rows_per_band: int):
    """array<string> of the per-band keys sliced out of ``sig`` — the
    single derivation both the bucket grouping and the first-band
    uniqueness check use (they can never drift). Past-signature bands
    yield ''."""
    return F.array(
        *[
            F.array_join(
                F.transform(
                    F.slice("sig", b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
            for b in range(bands)
        ]
    )


def _banded_keys(
    sig_wide: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, band_key) rows sliced in-row out of array-form signatures.

    Bands whose slice falls entirely past the signature length yield an
    empty key and are DROPPED — the long-form path simply has no rows for
    those bands, and keeping '' keys would put every document in one
    degenerate bucket (all-pairs candidates, or a silently vanished
    bucket under max_bucket). A real band key is never empty (minhash
    values always print), so the filter is exact long-form parity even
    for misconfigured bands*rows_per_band > k.

    posexplode_OUTER so Catalyst's InferFiltersFromGenerate does not
    re-evaluate the Arrow signing pass for an inferred size() > 0
    pre-filter (r7 audit; the key array is a fixed ``bands``-long
    literal construction — never NULL/empty — and the != '' filter
    drops any NULL row the outer form could emit)."""
    return sig_wide.select(
        F.col(id_col),
        F.posexplode_outer(_band_key_array(bands, rows_per_band)).alias(
            "band", "band_key"
        ),
    ).filter(F.col("band_key") != "")


def minhash_jaccard_estimates(
    sig_wide: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-candidate-pair MinHash Jaccard ESTIMATE — the number MinHash
    signatures exist to produce: the fraction of the k permutations on
    which two docs' minima agree is an unbiased estimator of their set
    Jaccard (Broder 1997). Input: array-form signatures
    (minhash_sig_arrays) and a candidate pair list (id_a < id_b, e.g.
    lsh_candidate_pairs*); output (id_a, id_b, n_agree, jaccard_est)
    with n_agree an exact integer and jaccard_est = n_agree / k (a
    ratio of exact integers — engine-exact). k is derived IN-ROW from
    the signature length (size of the array), never from a parameter —
    a caller who signed with a non-default permutation count cannot get
    a silently wrong estimate.

    Scale shape: two id equi-joins ship one k-long array per side of
    each CANDIDATE pair (never all pairs); the agreement count is an
    in-row zip_with — no explode, no extra shuffle beyond the joins."""
    a = sig_wide.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("__sa")
    )
    b = sig_wide.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("__sb")
    )
    agree = F.size(
        F.filter(
            F.zip_with("__sa", "__sb", lambda x, y: x == y),
            lambda v: v,
        )
    ).cast("long")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            agree.alias("n_agree"),
            (agree / F.size("__sa").cast("double")).alias("jaccard_est"),
        )
    )


def minhash_estimate_bar(
    n_docs: int,
    n_perms: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    target_est: float = 0.5,
    corpus_threshold: int = 400_000,
) -> int:
    """Corpus-size-aware agreement bar for the verified-dedup chain
    (d14): the minimum ``n_agree`` a :func:`minhash_jaccard_estimates`
    row must reach before it may feed transitive clustering — lifted
    into the operator from the r10 2M-doc stress probe
    (tests/test_stress_scale.py; VERDICT r10 item 1).

    Why the bar must RISE with the corpus: every LSH candidate pair
    already agrees on its colliding band's ``rows_per_band``
    permutations — the banding LOCKS those, so only the remaining
    ``n_perms - rows_per_band`` permutations carry independent
    evidence. A random (background-similarity s ~ 0.03) pair that
    collided on one band passes the semantic bar
    ``ceil(target_est * n_perms)`` (8/16 at the defaults: 4 locked
    + 4 of 12 free at p ~ s) with probability ~4e-4 — harmless tens of
    borderline passes at fixture scale, but candidate volume grows
    quadratically with the corpus (measured: 1.4e5 candidates at 200k
    docs, 14e6 at 2M), and at 2M docs the same bar admitted ~18k false
    pairs whose borderline merges CHAINED into a 35-doc seven-family
    cluster. Past ``corpus_threshold`` docs the bar therefore demands a
    2/3 majority of the FREE permutations on top of the locked band:
    ``rows_per_band + ceil(2 * (n_perms - rows_per_band) / 3)`` =
    4 + 8 = 12 at the default geometry. A candidate then needs 8 of
    its 12 free permutations to agree at p ~ 0.03 —
    P ~ C(12,8)·0.03^8 ≈ 3e-10 per candidate, ~0.004 expected false
    pairs over 14M candidates — while genuine near-dups (jaccard
    ~0.95, expected agreement 15.2/16) keep full recall. Verified at
    2M docs by the LIQ_STRESS chain, which calls THIS function for its
    default.

    ``corpus_threshold`` marks where the measured borderline-merge
    count stops being a handful (~25 observed at 800k — isolated
    two-family merges, no chains); below it the semantic bar is kept
    so small-corpus behavior (and d14's fixture-scale oracle) is
    unchanged. Returns an int in [ceil(target_est*n_perms), n_perms].

    d14's registered query pins its fixture-scale constant
    (``_D14_MIN_AGREE = 8``, equal to this function's answer at
    fixture size) so its DuckDB oracle stays byte-identical; pipelines
    running the chain at production scale pass their corpus size here
    instead of hardcoding either number.
    """
    import math

    if not 0 < rows_per_band <= n_perms:
        raise ValueError("need 0 < rows_per_band <= n_perms")
    if bands * rows_per_band > n_perms:
        raise ValueError(
            f"banding uses {bands * rows_per_band} permutations but only "
            f"{n_perms} exist"
        )
    base = math.ceil(target_est * n_perms)
    if n_docs <= corpus_threshold:
        return min(max(base, rows_per_band), n_perms)
    free = n_perms - rows_per_band
    scaled = rows_per_band + math.ceil(2 * free / 3)
    return min(max(base, scaled), n_perms)


def lsh_star_edges(
    sig_wide: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Connectivity-equivalent replacement for the quadratic per-bucket
    pair expansion: within every (band, bucket) posting list, connect each
    member to the bucket MINIMUM instead of to every other member. A star
    has the same connected components as the clique, with O(|bucket|)
    edges instead of O(|bucket|^2) — on a near-dup-heavy corpus (wide
    buckets) this shrinks the components input by orders of magnitude,
    and no ``max_bucket`` cap is needed because nothing is quadratic.

    Output schema matches the pair list (id_a < id_b per edge), so it
    drops into :func:`connected_components` / :func:`dedup_clusters` /
    :func:`dedup_survivors` unchanged and yields IDENTICAL clusters.
    It is NOT a substitute where the pair list itself is the product
    (e.g. a per-pair exact-verify step needs every candidate pair)."""
    banded = _banded_keys(sig_wide, id_col, bands, rows_per_band)
    grouped = (
        banded.groupBy("band", "band_key")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        grouped.select(
            F.array_min("ids").alias("id_a"), F.explode("ids").alias("id_b")
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


def _pairs_from_banded(
    banded: DataFrame, id_col: str, max_bucket: int | None
) -> DataFrame:
    """ONE groupBy collects each (band, bucket) posting list, pairs are
    expanded in-row from the sorted list (no self-join, so the signature
    subtree is computed once, not once per join side), and the bucket cap
    is a size() filter on the list — no window shuffle. Per-bucket pair
    expansion is inherently quadratic, which is exactly what ``max_bucket``
    bounds at scale (uncapped is for small-SF oracle runs)."""
    grouped = banded.groupBy("band", "band_key").agg(
        F.collect_list(id_col).alias("ids")
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket)
    return (
        grouped.filter(F.size("ids") > 1)
        # project the sorted list ONCE; referencing array_sort(ids) inside
        # the nested transform re-sorts per outer element (~12% of d03)
        .select(F.array_sort("ids").alias("ids"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (>= threshold).

    Distinct shingle hashes per doc -> self-join on shingle -> pair
    intersection counts -> |A ∪ B| = |A| + |B| - |A ∩ B|. The shingle join
    shuffles on the shingle hash (analogous to an inverted index); document
    set sizes ride along via a broadcast-joined per-doc count.

    ``max_doc_freq`` is the 100 TB skew valve: a shingle appearing in more
    than that many docs (boilerplate, stop-grams) contributes a posting
    list whose pairwise join output is quadratic in its length — one hot
    shingle becomes one straggler shuffle partition. Capping drops those
    shingles from BOTH the intersection AND the per-doc set sizes, so the
    result is exact Jaccard over the capped shingle universe (high-freq
    grams carry ~no similarity signal — the same reason IDF discounts
    them). Default None = exact over all shingles (the oracle setting).

    The shingle table is MATERIALIZED at creation (localCheckpoint):
    three subtrees consume it (sizes + both join sides), so without it
    the Arrow gram-hashing pass re-runs per consumer — the r7 audit
    measured four full evaluations in the uncapped plan (the capped
    path additionally re-checkpoints after its semi-join so the cap
    itself also runs once). The pinned block is NOT small — ~16 bytes
    per (doc, distinct-gram) row ≈ one row per source character, so it
    can exceed the corpus text size; see the module docstring for the
    size/executor-loss tradeoff."""
    shingles = pin(
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(char_ngram_hashes_fast(text_col, ngram))
            ).alias("sh"),
        )
    )
    if max_doc_freq is not None:
        keep = (
            shingles.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("sh")
        )
        # materialize the capped shingle table once: three consumers
        # (sizes, both join sides) would otherwise each recompute the
        # explode + doc-frequency + semi-join subtree — one checkpoint
        # write beats three shingle-table shuffles
        shingles = pin(shingles.join(keep, "sh", "left_semi"))
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.select(F.col(id_col).alias("id_a"), "sh")
    b = shingles.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_common", "jaccard")


def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — 64-bit SimHash signatures (signed BIGINT).

    Bits 0-31 come from the base-131 token-hash family, bits 32-63 from the
    independent base-137 family (one 64-bit token hash split into two
    32-bit halves so the DuckDB oracle reproduces it without 64-bit modular
    overflow — see text.combine_simhash64).

    Plan shape: with Arrow available this is ONE narrow Pandas-UDF
    projection — the whole signature (token hashes, 64 bit-sums, sign
    fold) is computed per doc in numpy (text.simhash64_fast): no explode,
    no shuffle, no join, with one exception: an input arriving in fewer
    splits than the session has cores (a single-row-group parquet file —
    the sf fixtures — or a gzipped dump) is round-robined first so the
    UDF pass engages every core (skew.spread_for_compute; a no-op
    whenever splits >= cores, i.e. always at 100 TB — measured 0.93 ->
    0.43 s warm at sf0.1). The fallback is the explode + 64 codegen'd
    conditional-sum aggregates shape below (the interpreted 64-fold
    variant is operators/text.simhash64, kept for streaming single-row
    use)."""
    from liq_stream_spark.operators import text as X
    from liq_stream_spark.operators.skew import spread_for_compute

    if X.pd is not None and X.np is not None:
        return spread_for_compute(df).select(
            F.col(id_col), X.simhash64_fast(text_col).alias("simhash")
        )
    from liq_stream_spark.operators.text import (
        combine_simhash64,
        token_hashes64_fast,
    )

    toks = df.select(
        F.col(id_col),
        F.explode(token_hashes64_fast(text_col)).alias("h"),
    )
    # bit i of the packed 64-bit token hash, sign-safely via >>>
    bit_sums = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    wide = toks.groupBy(id_col).agg(*bit_sums)
    halves = {}
    for half, off in (("lo", 0), ("hi", 32)):
        sig = None
        for i in range(32):
            term = F.when(
                F.col(f"b{off + i}") > 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            sig = term if sig is None else sig + term
        halves[half] = sig.cast("long")
    # empty/absent-token docs (none in practice) fall back to signature 0
    out = df.select(id_col).join(wide, id_col, "left")
    return out.select(
        F.col(id_col),
        F.coalesce(
            combine_simhash64(halves["lo"], halves["hi"]), F.lit(0)
        ).alias("simhash"),
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance.

    Scale path: block on the four 16-bit blocks of the 64-bit signature —
    two docs within Hamming distance 3 differ in at most 3 blocks, so they
    share at least one exact block (pigeonhole) and the join is equi on
    (block_idx, block), never a cross join. 65,536 values per block index
    keeps buckets ~N/65k even at billions of docs (the 8-bit blocking of a
    32-bit signature had only 256, which degrades toward quadratic
    per-bucket pair generation at large N).

    For ``max_hamming`` <= 3 the blocking is lossless (recall 1.0), which
    is what lets d05 be checked against an exact DuckDB popcount oracle.

    A pair agreeing on SEVERAL blocks meets once per shared block; it is
    kept only at its FIRST shared block_idx (both signatures ride the
    join, so earlier blocks compare in-row — the d03 r6 technique), which
    makes emission unique BY CONSTRUCTION: no distinct over the
    per-bucket quadratic expansion.

    The signature frame is MATERIALIZED once (localCheckpoint, the d12/
    d14 convention): both self-join sides consume it, and Catalyst's
    inferred non-null join-key constraint additionally splits each side's
    Pandas-UDF projection into a filter evaluation plus a project
    evaluation — four full signature passes over the corpus for one
    logical computation (measured 5.5 -> 1.2 s warm at sf0.1).
    (id, simhash) is 16 bytes/doc, negligible executor storage beside
    the text corpus it summarizes at any scale."""
    sig = pin(simhash_table(df, id_col, text_col))
    blocks = sig.select(
        id_col,
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), "
                "i -> shiftrightunsigned(simhash, i * 16) & 65535)"
            )
        ).alias("block_idx", "block"),
    )
    a = blocks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"),
        "block_idx", "block",
    )
    b = blocks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"),
        "block_idx", "block",
    )
    first_shared_block = ~F.expr(
        "exists(sequence(0, 3), j -> j < block_idx "
        "AND (shiftrightunsigned(sig_a, j * 16) & 65535) = "
        "(shiftrightunsigned(sig_b, j * 16) & 65535))"
    )
    cand = (
        a.join(b, ["block_idx", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(first_shared_block)
        .select("id_a", "id_b", "sig_a", "sig_b")
    )
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    ).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Connected components over a candidate-pair edge list: the endgame of
    every fuzzy-dedup pipeline. Pairs only say "these two are near-dups";
    keeping one doc per transitive CLUSTER needs the components. Returns
    (node, component) for every node appearing in a pair, with
    ``component`` = the minimum node id reachable through the pairs.

    Algorithm: min-label propagation with pointer jumping. Each round
    (1) takes the min label over each node's neighbors (one equi-join +
    groupBy on the symmetric edge list), then (2) compresses paths by
    looking up the label's own label (one more equi-join) — the classic
    two-phase hashing scheme, converging in O(log diameter) rounds rather
    than O(diameter). Near-dup clusters are shallow (dups of dups of one
    original), so this is 2-4 rounds in practice.

    Scale notes (100 TB): every step is an equi-join/groupBy shuffle keyed
    on node id — no cross joins, no driver-side data. The edge list is
    orders of magnitude smaller than the corpus (only candidate pairs).
    ``localCheckpoint`` truncates the iterative lineage so the plan does
    not grow with rounds (on a cluster, a checkpoint dir does the same
    durably). One driver-side convergence count per round is the Pregel
    pattern, not a collect of data.

    The per-round shuffles are sized to the EDGE LIST, not the session
    default: a dedup edge list is orders of magnitude smaller than the
    corpus, and running ~6 shuffles x ~6 rounds at the corpus-sized
    partition count is pure task-scheduling overhead. ``shuffle_partitions``
    overrides; by default one partition per ~100k edges, capped at the
    session setting. The conf toggle is saved/restored in a finally and
    only the eagerly-materialized loop runs under it (the returned frame
    is checkpointed, so downstream execution is unaffected)."""
    spark = pairs.sparkSession
    # the symmetric union consumes ``pairs`` TWICE — without this
    # materialization each branch recomputes the caller's whole
    # candidate chain (d14's sig-scan -> band shuffle -> estimate join
    # ran twice end-to-end inside the edge checkpoint; r7 profile).
    # The pair block is two longs per row, negligible beside the chain.
    directed = pin(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    )
    edges = directed.union(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    session_sp = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is None:
        n_edges = edges.count()
        shuffle_partitions = max(
            1, min(int(session_sp), n_edges // 100_000 + 1)
        )
    # Pin the edge list AT the loop's partition count (r13): the union
    # inherits the upstream pin's partitioning (often 1-2 blocks after
    # an AQE-coalesced candidate chain), so without this every round's
    # scan of the pinned edges ran on that handful of fat partitions
    # before its shuffle — the map side of the loop's dominant join was
    # serialized however many executors exist. One deterministic hash
    # repartition on dst sizes the pinned blocks to the edge list. The
    # pin stays LAZY: round 1's groupBy (or the sizing count above for
    # the un-sized path) is what materializes it. In the LARGE-graph
    # regime the loop re-pins this frame sorted+persisted after round 1
    # (see _cc_loop) — deferred there because the regime test needs the
    # exact node count, which round 1 produces for free.
    edges = pin(edges.repartition(shuffle_partitions, "dst"))
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        labels = _cc_loop(edges, max_iters)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", session_sp)
    return labels


def _cc_loop(edges: DataFrame, max_iters: int) -> DataFrame:
    # Round 1 against IDENTITY labels needs no label join at all:
    # min(comp over neighbors) = min(dst), and the node set = the src
    # side of the symmetric edge list — one groupBy replaces the
    # distinct + the edges-x-labels join + the labels-x-nbr_min join
    # the generic round below pays (r7; ~25% off the loop at d14's
    # 3.1M-edge frame). The generic round then starts from these
    # already-one-hop labels.
    #
    # Convergence is detected IN-ROW (r13): each round's pre-step label
    # rides along as ``__old`` so ``changed`` is an aggregate on the
    # round's own checkpoint — the old shape re-joined the fresh labels
    # against the previous round's frame, an extra label-sized shuffle
    # join per round that existed only to compare a value the round
    # already had in hand. The per-round pin is LAZY: the convergence
    # aggregate is what materializes it.
    #
    # DELTA propagation (r14, guide §2.3 shuffle fewer bytes): a node's
    # min-label can only decrease, and a neighbor that did NOT change
    # in round r-1 already contributed its label to this node's round-
    # r-1 value (comp_u(r-1) = least(comp_u(r-2), min over neighbors'
    # r-2 labels) <= label_v(r-2) = label_v(r-1) for unchanged v), so
    # round r's neighbor-min join only needs the labels that CHANGED in
    # round r-1 — the step join's label side shrinks from the full
    # node set to the (rapidly vanishing) delta, per round, at any
    # scale. Exact: least(comp, nbr_min_delta) == least(comp,
    # nbr_min_full) row-by-row; pinned by the union-find property test
    # and the large-regime equality test in tests/test_llm_ops.py, and
    # checksum-verified against the r13 loop on d14's full sf0.1 pair
    # set (tools_r14/cc_lab.py).
    #
    # BROADCAST gate (r14, guide §3.1): when the exact node count
    # (read off round 1's convergence aggregate, no extra job) says the
    # label frame fits the session's broadcast threshold, the three
    # label-sized join sides ride as broadcast hints — zero exchanges
    # in the step join and both compression joins, leaving ONE exchange
    # per round (the groupBy(src) partial agg). The pins are LogicalRDDs
    # without stats, so Catalyst could never choose this itself; past
    # the threshold the gate stays shut and the sort-merge shape is
    # byte-identical to the ungated plan.
    #
    # LARGE-graph edge re-pin (r14): when the gate is SHUT the per-round
    # joins are sort-merge joins, and under AQE a checkpoint's
    # LogicalRDD reports UnknownPartitioning — measured on this Spark,
    # the r13 checkpointed edges were re-exchanged AND re-sorted by
    # every round's step join despite arriving hash(dst)-partitioned.
    # So once round 1 reveals the regime, the edge pin is re-pinned as a
    # PERSIST, hash-partitioned and sorted on dst: a cached relation
    # keeps its plan's outputPartitioning/outputOrdering
    # (InMemoryTableScan), so rounds >= 2 stream the cache with no
    # edge-side Exchange or Sort — one edge pass at re-pin time
    # amortizes over every remaining round. In the small regime the
    # broadcast-hash joins only ever STREAM the edge pin, so the
    # checkpoint is kept as-is (the re-pin's exchange+sort measured as
    # a pure ~0.3 s fixture tax, tools_r14/cc_lab.py).
    from liq_stream_spark.operators.skew import broadcast_row_budget

    bcast_rows = broadcast_row_budget(edges.sparkSession)
    labels = None
    delta = None
    n_nodes = None
    for _ in range(max_iters):
        if labels is None:
            stepped = edges.groupBy("src").agg(
                F.min("dst").alias("__m")
            ).select(
                F.col("src").alias("node"),
                F.least(F.col("src"), F.col("__m")).alias("comp"),
                # identity labels: the pre-step label IS the node id
                F.col("src").alias("__old"),
            )
            small = False
        else:
            small = n_nodes is not None and n_nodes <= bcast_rows
            bc = F.broadcast if small else (lambda df: df)
            nbr_min = (
                edges.join(bc(delta), edges["dst"] == delta["d_node"])
                .groupBy("src")
                .agg(F.min("d_comp").alias("nbr_comp"))
            )
            stepped = (
                labels.join(
                    bc(nbr_min), labels["node"] == nbr_min["src"], "left"
                )
                .select(
                    "node",
                    F.least(
                        F.col("comp"), F.coalesce("nbr_comp", "comp")
                    ).alias("comp"),
                    F.col("comp").alias("__old"),
                )
            )
        hop = stepped.select(
            F.col("node").alias("h_node"), F.col("comp").alias("h_comp")
        )
        if small:
            hop = F.broadcast(hop)
        compressed = (
            stepped.join(hop, stepped["comp"] == hop["h_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("h_comp", "comp")
                ).alias("comp"),
                "__old",
            )
        )
        compressed = pin(compressed)
        # one action per round (the Pregel pattern): a single 1-row
        # aggregate returns the changed count AND (round 1 only) the
        # exact node count the broadcast gate needs — no extra job.
        row = compressed.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_if(F.col("comp") != F.col("__old")).alias("__chg"),
        ).first()
        if n_nodes is None:
            n_nodes = row["__n"]
            if n_nodes > bcast_rows and max_iters > 1:
                edges = pin(
                    edges.repartition(F.col("dst")).sortWithinPartitions("dst"),
                    keep_lineage=True,
                )
        changed = row["__chg"]
        labels = compressed.select("node", "comp")
        delta = compressed.filter(F.col("comp") != F.col("__old")).select(
            F.col("node").alias("d_node"), F.col("comp").alias("d_comp")
        )
        if changed == 0:
            break
    if labels is None:  # max_iters == 0: identity labels, original contract
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("comp"))
        )
    return labels


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster view of a near-dup pair list: per node its cluster id (min
    reachable node), the cluster size, and whether this node is the
    canonical representative the pipeline would keep.

    SCALE GUIDANCE: feed this VERIFIED pairs, not raw LSH candidates.
    Transitive closure amplifies false positives — at 200k docs the
    (b=4, r=4) banding's ~5e-7 random collision rate over 2e10 pairs
    already chains unrelated docs into a ~2k-doc mega-cluster
    (measured: tests/test_stress_scale.py), while the same corpus
    through the d14 chain (minhash_jaccard_estimates threshold first)
    clusters cleanly. Candidate components (d06's registered form) are
    for bucket diagnostics; keep-one-per-cluster decisions belong on
    the verified chain."""
    cc = connected_components(pairs, id_a, id_b)
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "comp")
        .select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("cluster_id"),
            F.col("cluster_size"),
            (F.col("node") == F.col("comp")).alias("is_canonical"),
        )
    )


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    broadcast_clusters: bool = True,
) -> DataFrame:
    """The keep-one-per-cluster decision applied to the corpus: every doc
    that is either outside all near-dup clusters (cluster_size 1) or the
    canonical (min-id) member of its cluster survives; the rest drop.

    Plan: clusters are computed only over nodes that appear in pairs (a
    tiny fraction of the corpus), the drop set is broadcast-joined back as
    a left-anti, and surviving cluster members pick up their cluster size
    with a left join — the full corpus is never shuffled on anything but
    the id equi-keys.
    """
    # the cluster frame is tiny (only docs appearing in pairs) but its
    # lineage is the full Pregel iteration — materialize once for the
    # two consumers (drop set + survivor sizes)
    clusters = pin(dedup_clusters(pairs))
    drop = clusters.filter(~F.col("is_canonical")).select(
        F.col("doc_id").alias(id_col)
    )
    keep_sizes = clusters.filter(F.col("is_canonical")).select(
        F.col("doc_id").alias(id_col), "cluster_size"
    )
    # broadcast_clusters=True (default) keeps the corpus from ever
    # shuffling for the survivor stitch — correct whenever the cluster
    # membership is a small fraction of the corpus (the common case, and
    # what the d07 plan pin asserts). On a DUP-HEAVY corpus (e.g. a
    # 40%-duplicate crawl at 100 TB) the drop set is billions of ids and
    # a forced broadcast would OOM the driver: pass False there and the
    # stitch becomes a plain equi-join the engine plans from actual
    # sizes. The knob exists because neither regime's plan is safe in
    # the other — AQE cannot see through the lazy checkpoint's unknown
    # size stats to make the call for you.
    if broadcast_clusters:
        drop, keep_sizes = F.broadcast(drop), F.broadcast(keep_sizes)
    return (
        docs.select(id_col)
        .join(drop, id_col, "left_anti")
        .join(keep_sizes, id_col, "left")
        .na.fill(1, ["cluster_size"])
        .select(id_col, F.col("cluster_size").cast("long"))
    )


def duplicate_ngram_stats(
    docs: DataFrame,
    n: int = 13,
    max_doc_freq: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact cross-document duplicate-substring signal at token-n-gram
    granularity (the practical form of Lee et al.'s "Deduplicating
    Training Data Makes Language Models Better" exact-substring dedup:
    a 13-token window that appears in more than one document is a
    duplicated span).

    Output per doc: (doc_id, n_grams, n_dup_grams, dup_gram_frac) where
    n_grams counts DISTINCT n-grams in the doc and n_dup_grams counts how
    many of those also occur in at least one other document. Docs with no
    grams (shorter than n tokens) report zeros.

    Plan shape at 100 TB: distinct grams explode once; doc-frequency is
    one map-side-combinable hash agg keyed by gram; the join back is an
    equi-join on the gram string. ``max_doc_freq`` is the skew valve —
    boilerplate grams shared by more than ``max_doc_freq`` docs are
    dropped from the join side and therefore EXCLUDED from n_dup_grams /
    dup_gram_frac entirely (docs dominated by ultra-common boilerplate
    under-report duplication when the valve is engaged; the default
    ``None`` counts every shared gram exactly). The valve bounds the
    join fan-out the same way d08 caps posting lists.
    """
    from liq_stream_spark.operators.text import token_ngrams_of_text

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(token_ngrams_of_text(text_col, n)).alias("__gs"),
    )
    grams = base.select("doc_id", F.explode("__gs").alias("g"))
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    shared = freq.filter(F.col("df") >= 2)
    if max_doc_freq is not None:
        shared = shared.filter(F.col("df") <= max_doc_freq)
    dup = (
        grams.join(shared.select("g"), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    totals = base.select("doc_id", F.size("__gs").cast("long").alias("n_grams"))
    return (
        totals.join(dup, "doc_id", "left")
        .na.fill(0, ["n_dup_grams"])
        .select(
            "doc_id",
            "n_grams",
            F.col("n_dup_grams").cast("long").alias("n_dup_grams"),
            F.when(F.col("n_grams") > 0,
                   F.col("n_dup_grams") / F.col("n_grams"))
            .otherwise(F.lit(0.0))
            .alias("dup_gram_frac"),
        )
    )


def duplicate_span_removal(
    docs: DataFrame,
    n: int = 13,
    max_doc_freq: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup in REWRITE form (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    token covered by ANY occurrence of a cross-document duplicated
    token-n-gram is removed from the doc; the survivors rejoin with
    single spaces. d09 is the measurement form of the same signal; this
    is the form a training pipeline actually writes out.

    Output per doc: (doc_id, n_tokens, n_removed_tokens, cleaned_text).
    A doc shorter than ``n`` tokens has no grams and passes through
    unchanged (cleaned_text = tokens rejoined; '' for empty text).
    Duplication is cross-document: a gram repeated only WITHIN one doc
    is kept (in-doc repetition is t07's signal, not a dedup target).

    Plan shape at 100 TB: gram occurrences explode once with their start
    positions; doc frequency is one map-side-combinable agg keyed on the
    gram (countDistinct doc_id); the cover join is an equi-join on the
    gram string; span expansion (p .. p+n-1) is in-row; the per-doc cover
    set is bounded by doc length. ``max_doc_freq`` is the same
    boilerplate valve as d09 — grams shared by more docs than the cap
    are treated as boilerplate NOT to remove (excluded from covers).
    """
    from liq_stream_spark.operators.text import (
        token_ngrams_of_text,
        tokens,
    )

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("__t"),
        token_ngrams_of_text(text_col, n).alias("__gs"),
    )
    occ = base.select("doc_id", F.posexplode("__gs").alias("p", "g"))
    shared = (
        occ.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
    )
    if max_doc_freq is not None:
        shared = shared.filter(F.col("df") <= max_doc_freq)
    covered = (
        occ.join(shared.select("g"), "g")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(p, p + {n - 1})")).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("__cov"))
    )
    cov = "coalesce(__cov, CAST(array() AS array<int>))"
    cleaned = (
        f"CASE WHEN size(__t) = 0 THEN '' ELSE "
        f"concat_ws(' ', transform(filter(sequence(1, size(__t)), "
        f"i -> NOT array_contains({cov}, CAST(i - 1 AS INT))), "
        f"i -> element_at(__t, CAST(i AS INT)))) END"
    )
    return (
        base.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size("__t").cast("long").alias("n_tokens"),
            F.expr(f"size({cov})").cast("long").alias("n_removed_tokens"),
            F.expr(cleaned).alias("cleaned_text"),
        )
    )


def dedup_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Incremental-ingest dedup — the production shape for corpus updates:
    a (small) new crawl batch checked against the (huge) existing corpus.
    Per new doc: ``exact_dup`` (same text exists in the corpus) and
    ``near_dup`` (shares at least one MinHash LSH band key with a corpus
    doc — the same b=4, r=4 banding as d03, so the collision threshold
    matches the batch pipeline). Survivors = both flags false; in-batch
    duplicates are the batch pipeline's job (d01/d07), not this check's.

    Plan shape at 100 TB: the corpus computes band keys ONCE (in practice
    persisted as the dedup index and bucketed by (band, band_key)); the
    NEW side is broadcast into both probes, so the corpus never
    reshuffles for an ingest batch — the exact probe is a broadcast
    semi-join on text, the near probe a broadcast join on short band-key
    strings.
    """
    nb = _banded_keys(
        minhash_sig_arrays(new_docs, id_col=id_col, text_col=text_col),
        id_col, bands, rows_per_band,
    )
    cb = _banded_keys(
        minhash_sig_arrays(corpus, id_col=id_col, text_col=text_col),
        id_col, bands, rows_per_band,
    ).select("band", "band_key").distinct()
    near = (
        cb.join(F.broadcast(nb), ["band", "band_key"])
        .select(F.col(id_col).alias("__near_id"))
        .distinct()
    )
    exact = (
        corpus.select(F.col(text_col).alias("__t")).distinct()
        .join(
            F.broadcast(
                new_docs.select(
                    F.col(id_col).alias("__exact_id"),
                    F.col(text_col).alias("__t"),
                )
            ),
            "__t",
        )
        .select("__exact_id")
        .distinct()
    )
    return (
        new_docs.select(id_col)
        .join(F.broadcast(exact), F.col(id_col) == F.col("__exact_id"), "left")
        .join(F.broadcast(near), F.col(id_col) == F.col("__near_id"), "left")
        .select(
            id_col,
            F.col("__exact_id").isNotNull().alias("exact_dup"),
            F.col("__near_id").isNotNull().alias("near_dup"),
        )
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (the SSJoin/PPJoin
    family — Chaudhuri et al., ICDE 2006; Bayardo et al., WWW 2007):
    output-identical to :func:`ngram_jaccard_pairs`, but the candidate
    join touches only each document's PREFIX under a global
    rarest-first token order.

    Why it's lossless: order every doc's distinct shingles by ascending
    document frequency (ties by shingle). If J(A,B) >= t then
    |A ∩ B| >= ceil(t·|A|), so A and B must share a token among the
    first |X| - ceil(t·|X|) + 1 tokens of BOTH (the first common token
    in the global order falls inside each side's prefix — else the
    overlap would fit entirely in the suffix, which is too small).
    Candidates from the prefix-prefix equi-join are then verified with
    an exact in-row set intersection, so precision is exact too.

    The 100 TB shape vs the plain inverted-index join: the join ships
    only ~(1-t) of each doc's tokens, and they are the RAREST tokens —
    posting lists in the join are the short ones by construction, so
    the boilerplate-shingle hot keys that force d04's lossy
    ``max_doc_freq`` valve never reach the join at all. The costs that
    remain (one df aggregation, one per-doc window over that doc's own
    shingles, the verify join on candidate ids) are all equi-keyed and
    skew-safe.

    Negative result, measured r6 (don't re-derive): PPJoin+'s per-pair
    refinement — group prefix matches per pair and prune on
    cpx + min(|A|-max_ia, |B|-max_ib) < ceil(t/(1+t)(|A|+|B|)), a
    lossless bound here because the global token order makes counted
    common tokens a PREFIX of the common sequence — pruned 0 of the
    9.5M candidates on the template-heavy sf0.1 fixture: rarest-FIRST
    ordering puts matches at minimal positions, so the positional slack
    min(|A|-pos, ...) is near-maximal exactly when the match is in the
    prefix head. The verify join over the surviving candidates is this
    corpus's exact-verify floor; the approximate d14 chain is the
    fast path."""
    shingles = pin(
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(char_ngram_hashes_fast(text_col, ngram))
            ).alias("sh"),
        )
    )
    # materialized once (same convention as ngram_jaccard_pairs' capped
    # path): the Arrow-hashed corpus explode feeds dfreq, the ranked
    # frame, both prefix join sides and both verify sides — without the
    # checkpoint, lineage recomputes the scan+hash ~6x per run
    dfreq = shingles.groupBy("sh").agg(F.count(F.lit(1)).alias("dfreq"))
    wdoc = W.partitionBy(id_col)
    ranked = (
        shingles.join(dfreq, "sh")
        .withColumn("n_sh", F.count(F.lit(1)).over(wdoc))
        .withColumn(
            "rn",
            F.row_number().over(wdoc.orderBy(F.asc("dfreq"), F.asc("sh"))),
        )
    )
    # epsilon guards float t*n landing a hair ABOVE an exact integer,
    # which would shorten the prefix and break the no-false-negative
    # guarantee; a hair longer is always safe (only adds candidates)
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.col("n_sh") * F.lit(threshold) - F.lit(1e-9))
        + F.lit(1)
    )
    prefix = ranked.filter(F.col("rn") <= prefix_len).select(
        id_col, "sh", "rn", "n_sh"
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"),
        "sh",
        F.col("rn").alias("__ia"),
        F.col("n_sh").alias("__na"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("rn").alias("__ib"),
        F.col("n_sh").alias("__nb"),
    )
    eps = F.lit(1e-9)
    # PPJoin's two LOSSLESS per-occurrence prunes, applied inside the
    # join so hot boilerplate prefix tokens never expand quadratically:
    # - length filter: J >= t forces t*|A| <= |B| (and symmetrically)
    # - positional filter: a shared token at canonical positions
    #   (ia, ib) bounds the overlap by 1 + min(|A|-ia, |B|-ib); if that
    #   can't reach the required t/(1+t)*(|A|+|B|), this occurrence
    #   cannot be the pair's first common token and is droppable —
    #   a truly similar pair always survives via its first common
    #   token, whose positions are minimal (ubound maximal)
    required = F.ceil(
        (F.col("__na") + F.col("__nb")) * F.lit(threshold / (1.0 + threshold))
        - eps
    )
    ubound = F.lit(1) + F.least(
        F.col("__na") - F.col("__ia"), F.col("__nb") - F.col("__ib")
    )
    cand = (
        a.join(b, a.sh == b.sh_b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.col("__nb") >= F.ceil(F.col("__na") * F.lit(threshold) - eps)
        )
        .filter(
            F.col("__na") >= F.ceil(F.col("__nb") * F.lit(threshold) - eps)
        )
        .filter(ubound >= required)
        .select("id_a", "id_b")
        .distinct()
    )
    sets = shingles.groupBy(id_col).agg(
        F.sort_array(F.collect_list("sh")).alias("shs"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("shs").alias("shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("shs").alias("shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    n_common = F.size(F.array_intersect("shs_a", "shs_b")).cast("long")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", n_common)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.9,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: C(A in B) = |A ∩ B| / |A| >=
    ``threshold`` — the ASYMMETRIC companion to Jaccard (Broder's
    resemblance vs containment distinction). Jaccard misses the case
    real corpora are full of: a short document wholly embedded in a
    longer one (quoted posts, syndicated excerpts, README fragments) —
    the union term dilutes the score, but containment of the SMALL doc
    stays ~1. Output keys the contained side: (id_contained,
    id_container, n_common, containment), both directions emitted when
    both clear the bar.

    Same inverted-index plan family as d04: distinct shingles explode,
    one shingle equi-join, per-pair intersection counts, set sizes by
    broadcast-friendly join; ``max_doc_freq`` is the usual boilerplate
    skew valve. The containment is a quotient of exact BIGINTs — one
    IEEE division, oracle-exact with no quantization.

    The shingle table is MATERIALIZED at creation (localCheckpoint) for
    its three consumers — same rationale, measurement, and size/
    executor-loss caveat as :func:`ngram_jaccard_pairs` (r7 audit: four
    UDF evaluations in the uncapped plan without it; the pinned block
    can exceed the corpus text size — module docstring)."""
    shingles = pin(
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(char_ngram_hashes_fast(text_col, ngram))
            ).alias("sh"),
        )
    )
    if max_doc_freq is not None:
        keep = (
            shingles.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("sh")
        )
        shingles = pin(shingles.join(keep, "sh", "left_semi"))
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    # aggregate each unordered pair ONCE (a < b, the d04 convention —
    # halves the dominant pair shuffle), then emit the two directed
    # containment arms in-row and filter
    a = shingles.select(F.col(id_col).alias("id_a"), "sh")
    b = shingles.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    arms = F.array(
        F.struct(
            F.col("id_a").alias("id_contained"),
            F.col("id_b").alias("id_container"),
            (F.col("n_common") / F.col("n_a")).alias("containment"),
        ),
        F.struct(
            F.col("id_b").alias("id_contained"),
            F.col("id_a").alias("id_container"),
            (F.col("n_common") / F.col("n_b")).alias("containment"),
        ),
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("n_common", F.explode(arms).alias("arm"))
        .select(
            F.col("arm.id_contained").alias("id_contained"),
            F.col("arm.id_container").alias("id_container"),
            "n_common",
            F.col("arm.containment").alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
