"""Iterative graph analytics over DataFrames: fixed-iteration PageRank.

The reference engine has no graph surface at all (SURVEY.md §2) — this
extends the LLM-pipeline operator set with the canonical iterative
algorithm, expressed as unrolled DataFrame joins so Catalyst plans every
round and AQE sizes the shuffles. Companion to
:func:`liq_stream_spark.operators.dedup.connected_components` (the other
iterative operator): components uses pointer-jumping convergence, this
uses a FIXED iteration count so the result is a pure function of the
input and therefore SQL-reproducible (the DuckDB oracle chains one CTE
per round).

Determinism across engines: rank state is kept as BIGINT in units of
10^-SCALE ("pico-ranks") — every per-edge contribution quantizes
through the portable half-up form ``floor(x * 10^SCALE + 0.5)``
(functions/core.qfloor_long; engine-native round() disagrees at half
boundaries, see its docstring) and accumulates as an exact integer
sum. The only float ops per round (one division, one damping
multiply-add) are IEEE-754-exact on identical inputs, so both engines
walk bit-identical rank vectors for any iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from liq_stream_spark.functions.core import qfloor_long
from liq_stream_spark.pins import pin

# decimal places every rank/contribution is rounded to each iteration
SCALE = 12


def pagerank(
    spark: SparkSession,
    nodes: DataFrame,
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    id_col: str = "node_id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list, ``n_iters`` unrolled rounds.

    ``nodes`` is one row per vertex (``id_col``); ``edges`` one row per
    directed edge. Vertices with no out-edges simply leak their mass
    (the standard simplified recurrence — no dangling redistribution),
    and vertices with no in-edges settle at the teleport floor
    ``(1-d)/N``; both behaviors are mirrored exactly in the oracle.

    Open-graph inputs are CLOSED up front (ADVICE r5): node ids are
    deduplicated (duplicate vertex rows would multiply-count teleport
    mass) and edges whose src or dst is not in ``nodes`` are dropped by
    two semi-joins before degrees are computed. Without the dst filter,
    mass sent to an unknown vertex would silently vanish at the
    rank-update join while still inflating its source's out-degree —
    diluting every sibling edge's contribution; with it, an edge either
    participates fully or not at all.

    Scale shape: per iteration, one shuffle joining ranks to edges on
    ``src`` and one shuffle aggregating contributions on ``dst`` — the
    canonical distributed-PageRank plan. The rank frame is one row per
    vertex (orders of magnitude smaller than the edge list); edges are
    scanned once per round from a lazily-checkpointed frame so the
    degree computation and every round reuse one materialization
    instead of recomputing the edge source per iteration. At 100 TB
    the edge frame would be bucketed by ``src`` so the per-round join
    reuses one co-location (see store.write_band_index for the pattern).

    Returns (node_id, out_deg, pr) with ``pr`` quantized to ``SCALE``
    decimal places (exactly representable multiples of 10^-SCALE up to
    double precision).
    """
    # nd feeds THREE consumers (the count, both closure semi-joins, and
    # r0's spine) and DataFrame lineage has no common-subexpression
    # reuse — without the pin each consumer re-runs the node source +
    # distinct exchange. Vertex-sized, lazily materialized by the
    # count() below (r13).
    nd = pin(nodes.select(F.col(id_col).alias("node_id")).distinct())
    n = nd.count()
    if n == 0:
        return nd.select(
            "node_id",
            F.lit(0).cast("long").alias("out_deg"),
            F.lit(0.0).alias("pr"),
        )
    # quantization happens in ENGINE expressions (qfloor_long), never
    # Python's round() (half-even, a third rule). The numerators are
    # Python-float expressions so both engines start from the same bits
    # (the oracle embeds their exact reprs).
    teleport = qfloor_long(F.lit(1.0 - damping) / F.lit(float(n)), SCALE)
    r0 = qfloor_long(F.lit(1.0) / F.lit(float(n)), SCALE)

    # Edge-pin style, keyed on the EXACT vertex count vs the session's
    # broadcast threshold (r14, VERDICT r13 item 3):
    #
    # - SMALL graphs (the rank frame fits the broadcast threshold):
    #   AQE's runtime SMJ->BHJ conversion broadcasts the vertex-sized
    #   rank side of every iteration's join, so the edge side is never
    #   exchanged at all — the r13 lazy-checkpoint pin is already the
    #   optimal shape, and an up-front repartition+sort would be pure
    #   added cost (measured +0.25 s on g01's 2.3 s fixture figure,
    #   tools_r14/pr_lab.py; explicit broadcast HINTS also measured
    #   slower than AQE's own conversion, +0.45 s, and are not used).
    #
    # - LARGE graphs (ranks cannot broadcast — the 100 TB regime): the
    #   per-round join is a sort-merge join, and under AQE a
    #   checkpoint's LogicalRDD reports UnknownPartitioning, so the r13
    #   shape re-exchanged AND re-sorted the EDGE side every round. The
    #   pin becomes a PERSIST, hash-partitioned and sorted on src: a
    #   cached relation keeps its plan's outputPartitioning /
    #   outputOrdering (InMemoryTableScan), so every round's SMJ
    #   streams the cache with no edge-side Exchange or Sort — one
    #   shuffle + one sort at pin time, reused by the degree
    #   aggregation (groupBy(src) over hash(src) plans no exchange)
    #   and all ``n_iters`` rank joins. The partition count comes from
    #   the session's shuffle-partition setting (environment-derived
    #   locally, cluster-tuned at scale).
    from liq_stream_spark.operators.skew import broadcast_row_budget

    small = n <= broadcast_row_budget(spark)
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .join(nd.select(F.col("node_id").alias("src")), "src", "left_semi")
        .join(nd.select(F.col("node_id").alias("dst")), "dst", "left_semi")
    )
    if not small:
        e = e.repartition(F.col("src")).sortWithinPartitions("src")
    e = pin(e, keep_lineage=not small)
    # deg is joined in EVERY round plus the final projection — without
    # the pin each consumer re-aggregates the edge pin (an edge-sized
    # pass per iteration at 100 TB). Vertex-sized (r13). In the large
    # regime it is persisted rather than checkpointed (r14) so its
    # hash(src) partitioning — inherited exchange-free from the edge
    # pin — survives for the per-round and final joins on src.
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    deg = pin(deg, keep_lineage=not small)

    ranks = nd.withColumn("r", r0)
    for _ in range(n_iters):
        contrib = (
            e.join(ranks, e.src == ranks.node_id)
            .join(deg, "src")
            .select(
                F.col("dst"),
                # long / long is double division in Spark SQL — exact
                # IEEE on exact integer inputs, then half-up to pico
                F.floor(
                    F.col("r") / F.col("out_deg") + F.lit(0.5)
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        base = ranks.select("node_id")
        ranks = pin(
            base.join(contrib, base.node_id == contrib.dst, "left").select(
                "node_id",
                F.floor(
                    teleport
                    + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0))
                    + F.lit(0.5)
                ).alias("r"),
            )
        )
    return ranks.join(deg, ranks.node_id == deg.src, "left").select(
        "node_id",
        F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
        (F.col("r") / F.lit(float(10**SCALE))).alias("pr"),
    )


def triangle_counts(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list
    (``id_a < id_b`` per row, deduplicated) — the standard clustering /
    community-density signal (a near-dup graph whose vertices close
    many triangles is template mass, not a chance collision chain; cf.
    the d14 lesson that unverified band edges chain into mega-clusters).

    Algorithm: the classic ordered two-path join. Because every edge is
    stored (lo, hi), each triangle a<b<c is found EXACTLY once by
    joining (a,b)+(b,c) on the middle vertex and closing with (a,c) —
    no orientation dedup, no factor-6 overcount. Two equi-joins, both
    on vertex keys; the edge list is the only input, so the whole plan
    is edge-sized shuffles (never corpus-sized). At 100 TB the standard
    refinement is degree-ordering the join sides (compact-forward) so
    hub vertices don't quadratically expand — the id ordering here IS
    a degree-agnostic instance of that orientation trick.

    Returns (node_id, n_triangles), one row per vertex that closes at
    least one triangle; exact BIGINTs, fully oracle-checkable."""
    e = edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    ab = e.select(F.col("a"), F.col("b"))
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tris = (
        ab.join(bc, "b")
        .join(
            ac,
            (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")),
            "left_semi",
        )
        .select("a", "b", "c")
    )
    corners = tris.select(F.explode(F.array("a", "b", "c")).alias("node_id"))
    return corners.groupBy("node_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
