"""Seventh LLM-ops tranche: statistical quality models (bigram-LM
perplexity, hashed linear classifier), fixed-iteration PageRank over the
near-dup graph, and the streaming tumbling-window parity gate.

Every query here is fully oracled: the LM and classifier keep all
accumulation in exact BIGINT arithmetic (log-probs and contributions
quantize through the portable half-up floor form — see
functions/core.qround — because engine-native round() disagrees at
half boundaries), and PageRank unrolls a fixed iteration count over
integer pico-rank state so both engines walk bit-identical rank
vectors (see operators/graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from liq_stream_spark.operators import graph as G
from liq_stream_spark.pins import pin
from liq_stream_spark.plans import register
from liq_stream_spark.plans.tables import dsum, load

# tokens with the empty-text guard, mirroring operators/text.tokens
_DUCK_TOKS = (
    "CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)


# -- t13: bigram-LM perplexity scoring (CCNet-style) -----------------------
# CTE chain shared by t13 (per-doc scores) and p10 (bucketing on them).
# NB (ADVICE r5): this oracle INNER-joins occ->model/starts, which is
# equivalent to the operator's LEFT join + coalesce-to-0 smoothing ONLY
# in the self-train case (train == docs) registered here — every scored
# bigram then exists in the model by construction. A train != docs
# deployment of operators/text.lm_perplexity scores unseen bigrams
# through the coalesce path, which this SQL does not model; its gate is
# tests/test_quality_models.py, not this CTE.
_T13_CTES = f"""tk AS (
      SELECT doc_id, {_DUCK_TOKS} AS T FROM documents
    ),
    bg AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(T)),
                      i -> struct_pack(w1 := T[i], w2 := T[i + 1]))) AS u
        FROM tk
      )
    ),
    model AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
    starts AS (SELECT w1, COUNT(*) AS cu FROM bg GROUP BY 1),
    vocab AS (
      SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(T) AS w FROM tk)
    ),
    occ AS (
      SELECT doc_id, w1, w2, COUNT(*) AS k FROM bg GROUP BY 1, 2, 3
    ),
    sc AS (
      SELECT o.doc_id,
             SUM(o.k) AS n_bigrams,
             SUM(CAST(floor((ln(m.cb + 1) - ln(s.cu + v.v)) * 1e6 + 0.5)
                      AS BIGINT) * o.k) AS ll_micro
      FROM occ o
      JOIN model m USING (w1, w2)
      JOIN starts s USING (w1)
      CROSS JOIN vocab v
      GROUP BY o.doc_id
    )"""

_T13_SQL = f"""
    WITH {_T13_CTES}
    SELECT d.doc_id,
           CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           -sc.ll_micro / (sc.n_bigrams * 1e6) AS avg_nll,
           floor(exp(-sc.ll_micro / (sc.n_bigrams * 1e6)) * 1e6 + 0.5) / 1e6
             AS ppl
    FROM documents d LEFT JOIN sc USING (doc_id)
    """


@register(
    "t13_lm_perplexity",
    _T13_SQL,
    doc="bigram-LM quality scoring (operators/text.bigram_lm_scores; "
    "CCNet, Wenzek et al. 2020): train an add-one-smoothed word-bigram "
    "model on the corpus and score every doc by average negative "
    "log-likelihood + perplexity — the fluency filter real pipelines "
    "threshold on (CCNet buckets by KenLM ppl; same decision function, "
    "SQL-reproducible model). Scale shape: per-doc DISTINCT bigrams "
    "with multiplicity aggregate FIRST (map-side combine), so the "
    "model join ships each (doc, bigram) once however often it "
    "repeats; two word-key equi-joins + broadcast single-row vocab. "
    "Per-bigram log-probs quantize to integer micro-nats "
    "(portable half-up floor at the coarse 1e-6 grid, so a "
    "cross-engine ln() ulp difference cannot flip the floor) and "
    "accumulate as exact BIGINT sums — task-order-free, oracle-exact.",
)
def t13_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.operators.skew import spread_for_compute
    from liq_stream_spark.operators.text import bigram_lm_scores

    # spread the narrow-split fixture input before the per-row scoring
    # pass (t12's rationale; no-op at real split counts)
    return bigram_lm_scores(
        spread_for_compute(load(spark, sf_dir, "documents"))
    )


# -- t14: hashed linear quality classifier ---------------------------------
# weights/tk/toks/sc chain mirroring operators/text.hashed_linear_score —
# ONE definition shared by the t14 and p14 oracles, so a scorer change
# (hash salt, bucket count, quantization) cannot desynchronize one of them
_T14_SCORE_CTES = f"""weights AS (
      SELECT gs.id AS bucket,
             (('0x' || substr(md5('qw-v1:' || gs.id::VARCHAR), 1, 8))::BIGINT
              % 2001) - 1000 AS w
      FROM generate_series(0, 1023) gs(id)
    ),
    tk AS (SELECT doc_id, {_DUCK_TOKS} AS T FROM documents),
    toks AS (
      SELECT doc_id,
             ('0x' || substr(md5('qw-v1:' || lower(u)), 1, 8))::BIGINT
               % 1024 AS bucket
      FROM (SELECT doc_id, unnest(T) AS u FROM tk)
    ),
    sc AS (
      SELECT doc_id, SUM(k) AS n_tokens, SUM(k * w) AS dot
      FROM (SELECT doc_id, bucket, COUNT(*) AS k FROM toks GROUP BY 1, 2) t
      JOIN weights USING (bucket)
      GROUP BY doc_id
    )"""

_T14_SQL = f"""
    WITH {_T14_SCORE_CTES}
    SELECT d.doc_id,
           CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           sc.dot / (1000.0 * sc.n_tokens) AS margin,
           floor(1.0 / (1.0 + exp(-(sc.dot / (1000.0 * sc.n_tokens))))
                 * 1e6 + 0.5) / 1e6 AS prob
    FROM documents d LEFT JOIN sc USING (doc_id)
    """


@register(
    "t14_quality_classifier",
    _T14_SQL,
    doc="hashed linear classifier INFERENCE "
    "(operators/text.hashed_linear_score; fastText architecture, Joulin "
    "et al. 2017 — the quality-classifier pattern of GPT-3/LLaMA data "
    "pipelines): tokens hash into 1024 feature buckets, score = "
    "sigmoid(weights . normalized bag of buckets). Weights are a "
    "deterministic md5-derived pseudo-model (a trained artifact drops "
    "in as a table read). The scale pattern under test: MODEL-AS-"
    "LITERAL in-row inference (r13) — a hashed model is bounded by its "
    "bucket count regardless of corpus size, so the weight vector "
    "rides the plan as one constant array and the dot product is a "
    "higher-order aggregate over the token array: zero shuffles, zero "
    "joins at any corpus size. Dot products are exact "
    "BIGINT sums; the margin is one raw IEEE division of exact "
    "integers, and only the sigmoid is quantized (coarse 1e-6 grid, "
    "transcendental-safe).",
)
def t14_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.operators.skew import spread_for_compute
    from liq_stream_spark.operators.text import hashed_linear_score

    # spread the narrow-split fixture input before the per-row scoring
    # pass (t12's rationale; no-op at real split counts)
    return hashed_linear_score(
        spread_for_compute(load(spark, sf_dir, "documents"))
    )


def _duck_star_edges_ctes() -> str:
    """CTE block 'buckets, star' mirroring operators/dedup.lsh_star_edges
    over the shared bands CTE — ONE definition for every oracle that
    consumes the star-edge graph (g01, g02), the _duck_bands_cte
    convention applied one level up."""
    return """buckets AS (
      SELECT list(doc_id) AS ids
      FROM bands GROUP BY band, band_key HAVING COUNT(*) > 1
    ),
    star AS (
      SELECT DISTINCT list_min(ids) AS id_a, unnest(ids) AS id_b FROM buckets
    )"""


# -- g01: PageRank over the LSH near-dup graph -----------------------------
def _g01_sql() -> str:
    from liq_stream_spark.plans.llm_ops import (
        _duck_bands_cte,
        _duck_minhash_cte,
    )

    d = repr(0.85)
    nr = repr(1.0 - 0.85)  # exact Python-float repr -> identical double
    it = []
    prev = "r0"
    for t in (1, 2, 3):
        it.append(f"""
    c{t} AS (
      SELECT e.dst,
             SUM(CAST(floor(r.r / d.out_deg + 0.5) AS BIGINT)) AS mass
      FROM edges e
      JOIN {prev} r ON r.node_id = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    r{t} AS (
      SELECT n.node_id,
             CAST(floor((SELECT t FROM tele)
                        + CAST({d} AS DOUBLE) * coalesce(c{t}.mass, 0)
                        + 0.5) AS BIGINT) AS r
      FROM (SELECT node_id FROM {prev}) n
      LEFT JOIN c{t} ON c{t}.dst = n.node_id
    )""")
        prev = f"r{t}"
    iters = ",".join(it)
    return f"""
    WITH {_duck_minhash_cte()},
    {_duck_bands_cte()},
    {_duck_star_edges_ctes()},
    e0 AS (SELECT id_a, id_b FROM star WHERE id_a != id_b),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM e0
      UNION ALL
      SELECT id_b, id_a FROM e0
    ),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
    tele AS (
      SELECT CAST(floor(CAST({nr} AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                        * 1e12 + 0.5) AS BIGINT) AS t
      FROM documents
    ),
    r0 AS (
      SELECT doc_id AS node_id,
             CAST(floor(CAST(1.0 AS DOUBLE)
                        / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                        * 1e12 + 0.5) AS BIGINT) AS r
      FROM documents
    ),{iters}
    SELECT n.node_id, CAST(coalesce(deg.out_deg, 0) AS BIGINT) AS out_deg,
           n.r / 1e12 AS pr
    FROM r3 n LEFT JOIN deg ON deg.src = n.node_id
    """


@register(
    "g01_pagerank",
    _g01_sql(),
    doc="fixed-iteration PageRank (operators/graph.pagerank, 3 rounds, "
    "d=0.85) over the UNDIRECTED near-dup graph built from the d03 LSH "
    "star edges — ranks which documents sit at the center of duplicate "
    "mass, the centrality view of the dedup graph (cluster "
    "representatives by authority instead of min-id). The iterative-"
    "algorithm showcase: each round is one ranks-to-edges equi-join + "
    "one contribution agg (the canonical distributed-PR plan, 2 "
    "shuffles/round); edge frame pinned once and reused by degree + "
    "all rounds (lazily checkpointed while the rank frame fits the "
    "broadcast threshold, repartitioned+sorted+persisted past it so "
    "the per-round SMJ streams the cache). Rank state is integer pico-ranks "
    "(portable half-up floor quantization) summed as exact BIGINTs — "
    "both engines walk bit-identical rank vectors, so a 3-round "
    "unroll is fully value-oracled (CTE chain per round).",
)
def g01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.operators import dedup as D

    docs = load(spark, sf_dir, "documents")
    sigs = D.minhash_sig_arrays(docs)
    # both unionAll branches read e0 — materialize the star-edge chain
    # (incl. the pandas-UDF signing) once, not per branch
    e0 = pin(D.lsh_star_edges(sigs))
    edges = e0.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(e0.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    nodes = docs.select(F.col("doc_id").alias("node_id"))
    return G.pagerank(
        spark, nodes, edges, n_iters=3, damping=0.85, id_col="node_id"
    )


# -- sj03: streaming tumbling-window agg, batch parity ---------------------
@register(
    "sj03_tumbling_agg_batch_parity",
    """
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS w_start,
           time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes'
             AS w_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="batch parity gate for the STREAMING tumbling-window aggregation "
    "(streaming/windows.tumbling_agg): 15-minute event-time windows per "
    "event_type, count + exact-decimal value sum. The builder runs the "
    "streaming operator itself on a batch input — "
    "EliminateEventTimeWatermark erases the watermark and the window "
    "groupBy collapses to a plain map-side-combinable agg, so this "
    "oracle-gates the window bucketing + agg semantics while the live "
    "leg (watermark-gated append finalization, bounded state) is driven "
    "in tests/test_streaming_windows.py. Scale shape: one shuffle on "
    "(window, event_type); streaming state is O(active windows x "
    "types), never O(stream).",
)
def sj03_tumbling_agg_batch_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from liq_stream_spark.streaming.windows import tumbling_agg

    ev = load(spark, sf_dir, "events")
    return tumbling_agg(
        ev,
        ts_col="ts",
        window="15 minutes",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        ],
    )


# -- p10: CCNet perplexity buckets -----------------------------------------
_P10_P1 = repr(1.0 / 3.0)
_P10_P2 = repr(2.0 / 3.0)
_P10_SQL = f"""
    WITH {_T13_CTES},
    scored AS (
      SELECT d.doc_id,
             -sc.ll_micro / (sc.n_bigrams * 1e6) AS avg_nll
      FROM documents d LEFT JOIN sc USING (doc_id)
    ),
    thr AS (
      SELECT floor(quantile_cont(avg_nll, {_P10_P1}) * 1e6 + 0.5) / 1e6 AS t1,
             floor(quantile_cont(avg_nll, {_P10_P2}) * 1e6 + 0.5) / 1e6 AS t2
      FROM scored WHERE avg_nll IS NOT NULL
    )
    SELECT s.doc_id, s.avg_nll,
           CASE WHEN s.avg_nll IS NULL THEN 'unscored'
                WHEN s.avg_nll <= thr.t1 THEN 'head'
                WHEN s.avg_nll <= thr.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s, thr
    """


@register(
    "p10_perplexity_buckets",
    _P10_SQL,
    doc="CCNet head/middle/tail corpus partitioning (Wenzek et al. 2020 "
    "§4.3): tertile-bucket every document by its t13 LM score — the "
    "paper's recipe for stratifying a crawl by fluency before choosing "
    "what to train on. Thresholds come from ONE exact-percentile "
    "aggregate over the scores (Spark percentile ≡ DuckDB "
    "quantile_cont, the q25-pinned convention; qround'd at the coarse 1e-6 grid so "
    "both engines hold the SAME threshold even if their percentile "
    "interpolation differs by an ulp) broadcast back over the corpus "
    "— no global sort, no single-partition window. At 100 TB the "
    "drop-in substitution is approx_percentile for the thresholds "
    "(same plan shape, sketch-based agg); the exact form is kept here "
    "because it is oracle-checkable.",
)
def p10_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.functions.core import qround
    from liq_stream_spark.operators.text import bigram_lm_scores

    scored = bigram_lm_scores(load(spark, sf_dir, "documents")).select(
        "doc_id", "avg_nll"
    )
    thr = (
        scored.filter(F.col("avg_nll").isNotNull())
        .agg(
            qround(
                F.expr(f"percentile(avg_nll, {_P10_P1})"), 6
            ).alias("t1"),
            qround(
                F.expr(f"percentile(avg_nll, {_P10_P2})"), 6
            ).alias("t2"),
        )
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "avg_nll",
        F.when(F.col("avg_nll").isNull(), F.lit("unscored"))
        .when(F.col("avg_nll") <= F.col("t1"), F.lit("head"))
        .when(F.col("avg_nll") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# -- p11: per-source document caps -----------------------------------------
_P11_K = 20
_P11_SQL = f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5('cap-v1:' || doc_id::VARCHAR),
                                        1, 8))::BIGINT % 10000,
                        doc_id
             ) AS samp_rank
      FROM documents
    )
    SELECT doc_id, source, CAST(samp_rank AS BIGINT) AS samp_rank
    FROM ranked WHERE samp_rank <= {_P11_K}
    """


@register(
    "p11_source_caps",
    _P11_SQL,
    doc="per-source document caps (domain balancing — the Common-Crawl "
    "hygiene step that stops one domain from dominating the mix; C4/"
    "Gopher both cap per-host contributions): keep at most K=20 docs "
    "per source, chosen by a deterministic salted-hash order "
    "(content-independent, stable under corpus growth — the same "
    "md5_bucket primitive as the p02 split). The rank-filter form is "
    "the SCALE shape: Catalyst turns row_number()<=K into "
    "WindowGroupLimit (pinned in tests/test_plans.py), which prunes to "
    "K rows per source map-side BEFORE the shuffle — a hot domain "
    "ships K rows, not its whole posting list.",
)
def p11_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from liq_stream_spark.operators.text import md5_bucket

    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        md5_bucket("doc_id", "cap-v1"), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("long").alias("samp_rank"),
        )
        .filter(F.col("samp_rank") <= _P11_K)
    )


# -- t15: Gopher rule-based quality gate -----------------------------------
from liq_stream_spark.operators.text import STOPWORDS as _STOPWORDS

_T15_SW = ", ".join(f"'{w}'" for w in _STOPWORDS)
_T15_SQL = f"""
    WITH tk AS (
      SELECT doc_id, {_DUCK_TOKS} AS T,
             string_split(text, chr(10)) AS L
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             len(T)::BIGINT AS n_words,
             coalesce(list_sum(list_transform(T, w -> length(w))), 0)::BIGINT
               AS sum_len,
             len(list_filter(T, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT
               AS n_alpha,
             len(L)::BIGINT AS n_lines,
             len(list_filter(L, l -> starts_with(ltrim(l), '-')
                 OR starts_with(ltrim(l), '*')
                 OR starts_with(ltrim(l), '•')))::BIGINT AS n_bullet,
             len(list_filter(L, l -> ends_with(rtrim(l), '...')))::BIGINT
               AS n_ellipsis,
             len(list_intersect(list_transform(T, w -> lower(w)),
                                [{_T15_SW}]))::BIGINT AS n_stop_hits
      FROM tk
    )
    SELECT doc_id, n_words,
           sum_len / nullif(n_words, 0) AS mean_word_len,
           n_alpha / nullif(n_words, 0) AS frac_alpha_words,
           n_bullet / nullif(n_lines, 0) AS frac_bullet_lines,
           n_ellipsis / nullif(n_lines, 0) AS frac_ellipsis_lines,
           n_stop_hits,
           coalesce(n_words >= 50 AND n_words <= 100000
                    AND sum_len / nullif(n_words, 0) BETWEEN 3.0 AND 10.0
                    AND n_alpha / nullif(n_words, 0) > 0.8
                    AND n_bullet / nullif(n_lines, 0) < 0.9
                    AND n_ellipsis / nullif(n_lines, 0) < 0.3
                    AND n_stop_hits >= 2, false) AS keep
    FROM sig
    """


@register(
    "t15_gopher_rules",
    _T15_SQL,
    doc="Gopher rule-based quality gate "
    "(operators/text.gopher_quality_signals; Rae et al. 2021 Appendix A "
    "— the MassiveWeb heuristic filter; C4/RefinedWeb run close "
    "variants): word-count and mean-word-length gates, alpha-word "
    "ratio, bullet/ellipsis line ratios, and a distinct-stopword "
    "natural-language check, ANDed into ``keep``. One narrow per-row "
    "projection — zero shuffles, no UDFs; all counters are exact "
    "BIGINTs and both ratios are integer IEEE divisions, so the frame "
    "is oracle-exact with no quantization.",
)
def t15_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.operators.text import gopher_quality_signals

    return gopher_quality_signals(load(spark, sf_dir, "documents"))


# -- d18: winnowing clone pairs --------------------------------------------
_D18_THRESHOLD = repr(0.85)


def _d18_sql() -> str:
    from liq_stream_spark.plans.llm_ops import DUCK_SHINGLES
    from liq_stream_spark.plans.llm_ops4 import _T12_W

    return f"""
    WITH h AS (
      SELECT doc_id, {DUCK_SHINGLES} AS h FROM documents
    ),
    fps AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(0, greatest(len(h) - {_T12_W}, 0) + 1),
                              i -> list_min(h[i+1 : i+{_T12_W}]))
             )) AS fp
      FROM h WHERE len(h) > 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM fps a JOIN fps b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, i.n_shared,
           i.n_shared / (sa.n_fp + sb.n_fp - i.n_shared) AS fp_jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_shared / (sa.n_fp + sb.n_fp - i.n_shared)
          >= CAST({_D18_THRESHOLD} AS DOUBLE)
    """


@register(
    "d18_winnow_clone_pairs",
    _d18_sql(),
    doc="clone-pair detection over the t12 winnowing fingerprints "
    "(operators/text.winnow_clone_pairs; MOSS, Schleimer et al. 2003 "
    "§4): self-equi-join the (doc, fingerprint) posting table and "
    f"gate on fingerprint-set Jaccard >= {_D18_THRESHOLD} — a raw "
    "shared-count gate is useless on boilerplate-heavy corpora "
    "(this fixture: 124k of 124.75k pairs share >= 2 fps; the Jaccard "
    "gate keeps ~600). Candidate-complete for clones of >= "
    "window+ngram-1 chars by the winnowing guarantee, at ~2/(w+1) of "
    "d04's full-shingle index volume — the middle ground between "
    "exact Jaccard (d04/d16) and MinHash banding (d03). The Jaccard "
    "is a quotient of exact BIGINTs (one IEEE division, no "
    "quantization); max_doc_freq is the boilerplate skew valve "
    "(d04/d08 convention); uncapped = exact = oracle setting.",
)
def d18_winnow_clone_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.operators.text import winnow_clone_pairs

    return winnow_clone_pairs(
        load(spark, sf_dir, "documents"), threshold=0.85
    )


# -- g02: triangle counts over the near-dup graph --------------------------
def _g02_sql() -> str:
    from liq_stream_spark.plans.llm_ops import (
        _duck_bands_cte,
        _duck_minhash_cte,
    )

    return f"""
    WITH {_duck_minhash_cte()},
    {_duck_bands_cte()},
    {_duck_star_edges_ctes()},
    e AS (SELECT id_a AS a, id_b AS b FROM star WHERE id_a != id_b),
    tris AS (
      SELECT ab.a, ab.b, bc.b AS c
      FROM e ab
      JOIN e bc ON bc.a = ab.b
      WHERE EXISTS (SELECT 1 FROM e ac WHERE ac.a = ab.a AND ac.b = bc.b)
    ),
    corners AS (
      SELECT unnest([a, b, c]) AS node_id FROM tris
    )
    SELECT node_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY node_id
    """


@register(
    "g02_triangle_counts",
    _g02_sql(),
    doc="per-vertex triangle counts (operators/graph.triangle_counts) "
    "over the d03 LSH star-edge graph — the community-density signal "
    "that separates template mass from chance collision chains (the "
    "d14 lesson, as a graph metric). Ordered two-path join: edges are "
    "stored (lo, hi), so each triangle a<b<c is found exactly once by "
    "an equi-join on the middle vertex closed with a LEFT SEMI probe "
    "on the third edge — no orientation dedup, no factor-6 "
    "overcount, edge-sized shuffles only. Exact BIGINTs, fully "
    "oracled; the iterative companion to g01's PageRank.",
)
def g02_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.operators import dedup as D
    from liq_stream_spark.operators.graph import triangle_counts

    sigs = D.minhash_sig_arrays(load(spark, sf_dir, "documents"))
    # the two-path triangle join consumes the edge frame on several
    # sides — materialize once so the Arrow signing pass behind it runs
    # once (g01/p13's e0 convention; r7 audit measured three full
    # evaluations without it)
    return triangle_counts(pin(D.lsh_star_edges(sigs)))


# -- p12: corpus mixture report --------------------------------------------
@register(
    "p12_corpus_report",
    """
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                    END) AS BIGINT) AS total_words
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
    """,
    doc="corpus mixture report — the dataset-card rollup every training "
    "run publishes (docs / chars / whitespace words by language x "
    "source, with per-language, per-source and grand-total margins via "
    "GROUPING SETS): one pass, one map-side-combinable agg per "
    "grouping set, all counters exact BIGINTs. The documents-table "
    "companion to q39's relational grouping sets; token counts use the "
    "property-pinned whitespace-tokenizer spec so the numbers agree "
    "with t05/t10 budgeting queries.",
)
def p12_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.operators.text import token_count

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang", "source", "n_chars", token_count("text").alias("__w")
        )
        .groupingSets(
            [["lang", "source"], ["lang"], ["source"], []], "lang", "source"
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("__w").cast("long").alias("total_words"),
        )
    )


# -- s12: per-label embedding centroids ------------------------------------
_S12_SQL = """
    WITH expl AS (
      SELECT label, u.v AS v, u.pos AS pos FROM (
        SELECT label,
               unnest(list_transform(embedding,
                      (x, i) -> struct_pack(v := x, pos := i - 1))) AS u
        FROM embeddings
      )
    ),
    q AS (
      SELECT label, CAST(pos AS BIGINT) AS pos,
             CAST(floor(CAST(v AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS nano
      FROM expl
    )
    SELECT label, pos,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           SUM(nano) / (COUNT(*) * 1e9) AS centroid
    FROM q GROUP BY label, pos
    """


@register(
    "s12_label_centroids",
    _S12_SQL,
    doc="per-label embedding centroids (mean pooling at corpus scale — "
    "the aggregation behind class prototypes, k-NN prototype "
    "classifiers, and SemDeDup's cluster seeds): posexplode the vector "
    "into (label, dimension, value) rows, one map-side-combinable agg "
    "on (label, pos). THE scale shape for vector aggregation — no "
    "collect, no per-label array buffering; a billion vectors is still "
    "one shuffle of dim x labels partial sums. Values quantize to "
    "nano-units (qfloor_long) and sum as exact BIGINTs, so the means "
    "are bit-identical across engines — the qround convention applied "
    "to float32 inputs (float -> double is exact, double -> nano is "
    "the portable floor).",
)
def s12_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.functions.core import qfloor_long

    emb = load(spark, sf_dir, "embeddings")
    expl = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        F.col("pos").cast("long").alias("pos"),
        qfloor_long(F.col("v").cast("double"), 9).alias("nano"),
    )
    return expl.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.sum("nano") / (F.count(F.lit(1)) * F.lit(1e9))).alias("centroid"),
    )


# -- d19: n-gram containment pairs -----------------------------------------
_D19_T = repr(0.9)


def _d19_sql() -> str:
    from liq_stream_spark.plans.llm_ops import DUCK_SHINGLES

    return f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({DUCK_SHINGLES})) AS sh
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b USING (sh)
      WHERE a.doc_id != b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_contained, i.id_container, i.n_common,
           i.n_common / sa.n_sh AS containment
    FROM inter i JOIN sizes sa ON sa.doc_id = i.id_contained
    WHERE i.n_common / sa.n_sh >= CAST({_D19_T} AS DOUBLE)
    """


@register(
    "d19_containment_pairs",
    _d19_sql(),
    doc="exact n-gram CONTAINMENT pairs "
    "(operators/dedup.ngram_containment_pairs; Broder's containment, "
    f"C(A in B) = |A∩B|/|A| >= {_D19_T}): the asymmetric dedup signal "
    "Jaccard structurally misses — a short doc wholly embedded in a "
    "longer one (quotes, syndication, excerpts) scores ~1 here while "
    "the union term buries it below any Jaccard bar. Same "
    "inverted-index plan family as d04 (shingle equi-join, "
    "intersection agg, max_doc_freq skew valve available); the score "
    "is a quotient of exact BIGINTs — one IEEE division, "
    "oracle-exact with no quantization.",
)
def d19_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        load(spark, sf_dir, "documents"), threshold=0.9
    )


# -- p13: leakage-free (cluster-aware) train/val/test split ----------------
def _p13_sql() -> str:
    from liq_stream_spark.operators.text import SPLIT_MOD
    from liq_stream_spark.plans.llm_ops import (
        _duck_band_pairs_cte,
        _duck_bands_cte,
        _duck_components_ctes,
        _duck_minhash_cte,
    )

    # derive the cutoffs from SPLIT_MOD exactly like the Spark builder
    # (and p02's oracle) so a SPLIT_MOD change cannot desynchronize
    # just this oracle
    mod = SPLIT_MOD
    train_hi = SPLIT_MOD * 90 // 100
    val_hi = train_hi + SPLIT_MOD * 5 // 100
    return f"""
    WITH RECURSIVE {_duck_minhash_cte()},
    {_duck_bands_cte()},
    {_duck_band_pairs_cte()},
    {_duck_components_ctes()},
    reps AS (
      SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    ),
    b AS (
      SELECT doc_id, rep_id,
             (('0x' || substr(md5('split-v1:' || rep_id::VARCHAR), 1, 8))::BIGINT
              % {mod})::BIGINT AS bucket
      FROM reps
    )
    SELECT doc_id, rep_id, bucket,
           CASE WHEN bucket < {train_hi} THEN 'train'
                WHEN bucket < {val_hi} THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """


@register(
    "p13_leakage_free_split",
    _p13_sql(),
    doc="leakage-free train/val/test split: hash on the near-dup "
    "CLUSTER representative (d06's connected components over the LSH "
    "star edges; unclustered docs represent themselves), so two "
    "near-duplicates can NEVER land in different splits — the "
    "train/test contamination a doc-id hash split (p02) silently "
    "permits, and the standard fix real pipelines layer on top of "
    "dedup (split-by-group, same salt/threshold rules as p02 so the "
    "two splits are comparable). One components pass + one broadcast-"
    "friendly rep join + the zero-shuffle hash projection; fully "
    "oracled via the recursive-CTE components.",
)
def p13_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.operators import dedup as D
    from liq_stream_spark.operators.text import SPLIT_MOD, md5_bucket

    docs = load(spark, sf_dir, "documents")
    sigs = D.minhash_sig_arrays(docs)
    comps = D.connected_components(D.lsh_star_edges(sigs)).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("rep_id")
    )
    reps = docs.select("doc_id").join(comps, "doc_id", "left").select(
        "doc_id", F.coalesce("rep_id", F.col("doc_id")).alias("rep_id")
    )
    bucket = md5_bucket("rep_id", "split-v1")
    train_hi = SPLIT_MOD * 90 // 100
    val_hi = train_hi + SPLIT_MOD * 5 // 100
    return reps.select(
        "doc_id",
        "rep_id",
        bucket.alias("bucket"),
        F.when(bucket < train_hi, F.lit("train"))
        .when(bucket < val_hi, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# -- t16: unigram entropy (lexical diversity) ------------------------------
_T16_SQL = f"""
    WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS T FROM documents),
    counts AS (
      SELECT doc_id, u AS w, COUNT(*) AS k
      FROM (SELECT doc_id, unnest(T) AS u FROM tk)
      GROUP BY doc_id, u
    ),
    per_doc AS (
      SELECT doc_id,
             SUM(k) AS n,
             COUNT(*) AS n_types,
             SUM(k * CAST(floor(ln(CAST(k AS DOUBLE)) * 1e6 + 0.5)
                          AS BIGINT)) AS klnk_micro
      FROM counts GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_types, 0) AS BIGINT) AS n_types,
           floor((ln(CAST(p.n AS DOUBLE)) - p.klnk_micro / (p.n * 1e6))
                 * 1e6 + 0.5) / 1e6 AS entropy
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


@register(
    "t16_unigram_entropy",
    _T16_SQL,
    doc="per-document unigram Shannon entropy "
    "(operators/text.unigram_entropy): the lexical-diversity quality "
    "feature — natural prose scores high, boilerplate/keyword-stuffed "
    "text low; the continuous companion to t07's distinct-token "
    "ratio. Computed as ln(n) - (1/n) sum k ln k so ln touches only "
    "exact integer counts, each quantized once at the "
    "transcendental-safe 1e-6 grid and summed as exact BIGINTs; one "
    "explode + two map-side-combinable aggs, no joins on data paths. "
    "Fully oracled.",
)
def t16_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liq_stream_spark.operators.text import unigram_entropy

    return unigram_entropy(load(spark, sf_dir, "documents"))


# -- p14: quality-aware dedup survivors ------------------------------------
def _p14_sql() -> str:
    from liq_stream_spark.plans.llm_ops import (
        _duck_band_pairs_cte,
        _duck_bands_cte,
        _duck_components_ctes,
        _duck_minhash_cte,
    )

    return f"""
    WITH RECURSIVE {_duck_minhash_cte()},
    {_duck_bands_cte()},
    {_duck_band_pairs_cte()},
    {_duck_components_ctes()},
    {_T14_SCORE_CTES},
    scored AS (
      SELECT d.doc_id,
             coalesce(cc.comp, d.doc_id) AS rep_id,
             coalesce(
               floor(1.0 / (1.0 + exp(-(sc.dot / (1000.0 * sc.n_tokens))))
                     * 1e6 + 0.5) / 1e6, 0.0) AS prob
      FROM documents d
      LEFT JOIN cc ON cc.node = d.doc_id
      LEFT JOIN sc USING (doc_id)
    ),
    ranked AS (
      SELECT doc_id, rep_id, prob,
             row_number() OVER (PARTITION BY rep_id
                                ORDER BY prob DESC, doc_id) AS rk
      FROM scored
    )
    SELECT doc_id, rep_id, prob, rk = 1 AS is_kept
    FROM ranked
    """


@register(
    "p14_quality_survivors",
    _p14_sql(),
    doc="quality-aware dedup survivor selection: within every near-dup "
    "cluster (d06's components; singletons are their own cluster), "
    "keep the doc with the HIGHEST t14 classifier score instead of "
    "d07's arbitrary min-id — the keep-policy real pipelines actually "
    "want (dedup should discard the worse copy). Unscored docs "
    "(empty) rank at prob 0. Composition of three verified pieces "
    "(components + hashed classifier + per-cluster rank); the rank "
    "window runs over cluster members only, and prob ties break on "
    "doc_id so the winner is deterministic. prob values are "
    "1e-6-floored (property-pinned bit equality), so the cross-engine "
    "ranking cannot disagree.",
)
def p14_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from liq_stream_spark.operators import dedup as D
    from liq_stream_spark.operators.text import hashed_linear_score

    docs = load(spark, sf_dir, "documents")
    sigs = D.minhash_sig_arrays(docs)
    comps = D.connected_components(D.lsh_star_edges(sigs)).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("rep_id")
    )
    scores = hashed_linear_score(docs).select(
        "doc_id", F.coalesce("prob", F.lit(0.0)).alias("prob")
    )
    scored = (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .join(scores, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("rep_id", F.col("doc_id")).alias("rep_id"),
            "prob",
        )
    )
    rk = F.row_number().over(
        W.partitionBy("rep_id").orderBy(F.col("prob").desc(), "doc_id")
    )
    return scored.select(
        "doc_id", "rep_id", "prob", (rk == 1).alias("is_kept")
    )
