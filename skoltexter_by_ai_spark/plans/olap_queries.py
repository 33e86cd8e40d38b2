"""OLAP-completeness declared queries: multi-level aggregation
(ROLLUP/CUBE), pivot, the window-function suite, percentiles, set
operations, and training-data utilities (deterministic splits, salted
aggregation).

Beyond the reference's surface (it has no analytics SQL at all), these
prove the engine covers what an analyst coming from any SQL warehouse
expects — each with a DuckDB oracle.

Cross-engine gotchas handled here: DuckDB sorts NULLS LAST by default
while Spark sorts NULLS FIRST (pin NULLS FIRST in the oracle);
DuckDB SUM(INTEGER) widens to HUGEINT (cast); GROUPING() returns
BIGINT in Spark (cast to INT both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skoltexter_by_ai_spark.operators.pinning import pin
from skoltexter_by_ai_spark.plans.ordering import bounded_sort
from skoltexter_by_ai_spark.plans.registry import register
from skoltexter_by_ai_spark.sources.tables import load_table


@register(
    "x21_rollup",
    oracle="""
        SELECT r_name,
               n_name,
               CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS gid,
               COUNT(*) AS n_suppliers,
               CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_bal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY gid DESC, r_name NULLS FIRST, n_name NULLS FIRST
    """,
    covers="multi-level aggregation: ROLLUP + GROUPING id (OLAP surface)",
    tags=("olap",),
)
def x21(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") * 2 + F.grouping("n_name")).cast("int").alias("gid"),
            F.count("*").alias("n_suppliers"),
            (F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).cast("double") / 100)
            .alias("total_bal"),
        )
        .select("r_name", "n_name", "gid", "n_suppliers", "total_bal")
        # (region, nation)-bounded rollup output
        .transform(
            lambda d: bounded_sort(
                d,
                F.col("gid").desc(),
                F.asc_nulls_first("r_name"),
                F.asc_nulls_first("n_name"),
            )
        )
    )


@register(
    "x22_pivot",
    # Spark `pivot` with explicit values == portable conditional
    # aggregation in the oracle; explicit value list keeps the output
    # schema static (required at scale — no extra pass to discover keys).
    oracle="""
        SELECT user_id,
               COUNT(*) FILTER (event_type = 'click')    AS click,
               COUNT(*) FILTER (event_type = 'view')     AS view,
               COUNT(*) FILTER (event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (event_type = 'signup')   AS signup,
               COUNT(*) FILTER (event_type = 'error')    AS error
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    covers="pivot (long -> wide) with static column set",
    tags=("olap",),
)
def x22(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("user_id")
    )


@register(
    "x23_window_suite",
    oracle="""
        SELECT o_custkey,
               o_orderkey,
               CAST(ROW_NUMBER() OVER w AS INT) AS rn,
               CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS INT) AS pr_rank,
               LAG(o_orderkey) OVER w AS prev_order,
               LEAD(o_orderkey) OVER w AS next_order,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER
                    (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100 AS running_total,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER
                    (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS 2 PRECEDING) AS DOUBLE) / 100
                   / COUNT(*) OVER
                    (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS 2 PRECEDING) AS moving_avg3
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        ORDER BY o_custkey, o_orderkey
    """,
    covers="window suite: row_number/rank/lag/lead/running sum/moving average",
    tags=("olap",),
)
def x23(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = w.rowsBetween(-2, Window.currentRow)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("int").alias("rn"),
            F.rank().over(wp).cast("int").alias("pr_rank"),
            F.lag("o_orderkey").over(w).alias("prev_order"),
            F.lead("o_orderkey").over(w).alias("next_order"),
            (F.sum(cents).over(run).cast("double") / 100).alias("running_total"),
            # Exact integer-cents window sum, then double division by
            # 100 and by the window count: decimal AVG rounds
            # differently per engine, but identical doubles divided in
            # the same order are bit-stable.
            (F.sum(cents).over(mov).cast("double") / 100 / F.count("*").over(mov)).alias(
                "moving_avg3"
            ),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "x24_percentiles",
    # Both engines: continuous (interpolated) quantiles over doubles,
    # rounded to absorb last-ulp interpolation differences.
    oracle="""
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
               ROUND(median(l_quantity), 6) AS med,
               ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    covers="exact continuous percentiles / median per group",
    tags=("olap",),
)
def x24(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    # Built-in percentile is DELIBERATE here: its state is a
    # value→count map bounded by the column's DOMAIN, and l_quantity
    # has ~50 distinct values — fine at any row count. For unbounded
    # domains (prices), use operators.quantiles' bisection instead
    # (x70/x72 do; see SCALING.md round-3 section).
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("q25"),
            F.round(F.median("l_quantity"), 6).alias("med"),
            F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("q75"),
            F.count("*").alias("n"),
        )
        # flag-bounded output
        .transform(lambda d: bounded_sort(d, "l_returnflag"))
    )


@register(
    "x25_set_ops",
    oracle="""
        SELECT o_custkey, 'both' AS src FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        )
        UNION ALL
        SELECT o_custkey, 'only_f' AS src FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        )
        ORDER BY src, o_custkey
    """,
    covers="set operations: INTERSECT / EXCEPT (distinct semantics)",
    tags=("olap",),
)
def x25(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    both = f_cust.intersect(o_cust).withColumn("src", F.lit("both"))
    only_f = f_cust.subtract(o_cust).withColumn("src", F.lit("only_f"))
    return both.unionByName(only_f).orderBy("src", "o_custkey")


@register(
    "x28_distinct_counts",
    # DuckDB COUNT(DISTINCT) -> BIGINT matches Spark's; the HLL
    # approx_count_distinct variant is unit-tested against these exact
    # numbers with a 5% bound (approximations cannot hash-match).
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_suppkey) AS n_suppliers,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    covers="exact multi-column distinct counting per group (expand + partial agg)",
    tags=("olap",),
)
def x28(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_rows"),
        )
        # flag-bounded output
        .transform(lambda d: bounded_sort(d, "l_returnflag"))
    )


@register(
    "x26_train_split",
    # Deterministic, engine-portable split: bucket on the first two hex
    # chars of md5(id) — pure string comparison, identical in any
    # engine, stable under re-runs and repartitioning. ~80/10/10.
    oracle="""
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
        ORDER BY doc_id
    """,
    covers="deterministic hash-based train/val/test split (training-data pipeline)",
    tags=("training",),
)
def x26(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark.operators.text_analysis import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", hash_split("doc_id").alias("split")).orderBy("doc_id")


@register(
    "x29_full_outer_join",
    # Customers with no orders AND order-count buckets with no
    # customers both survive; COALESCE resolves the outer nulls.
    oracle="""
        WITH cust_orders AS (
            SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
        ),
        hi AS (SELECT o_custkey, n FROM cust_orders WHERE n >= 20),
        seg AS (SELECT c_custkey, c_mktsegment FROM customer
                WHERE c_mktsegment IN ('BUILDING', 'MACHINERY'))
        SELECT COALESCE(seg.c_custkey, hi.o_custkey) AS custkey,
               seg.c_mktsegment AS segment,
               hi.n AS big_order_cnt
        FROM seg FULL OUTER JOIN hi ON seg.c_custkey = hi.o_custkey
        ORDER BY custkey
    """,
    covers="full outer join with coalesced key (join-type completeness)",
    tags=("olap",),
)
def x29(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    hi = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 20)
    )
    seg = customer.filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    ).select("c_custkey", "c_mktsegment")
    return (
        seg.join(hi, seg.c_custkey == hi.o_custkey, "full_outer")
        .select(
            F.coalesce(seg.c_custkey, hi.o_custkey).alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
            F.col("n").alias("big_order_cnt"),
        )
        .orderBy("custkey")
    )


@register(
    "x30_cross_join_small",
    oracle="""
        SELECT r.r_name, s.o_orderstatus, COUNT(o.o_orderkey) AS n
        FROM region r
        CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
        LEFT JOIN (SELECT o_orderkey, o_orderstatus AS st FROM orders) o
          ON o.st = s.o_orderstatus
        GROUP BY r.r_name, s.o_orderstatus
        ORDER BY r.r_name, s.o_orderstatus
    """,
    covers="cross join (small dimensional grid) + left join aggregation",
    tags=("olap",),
)
def x30(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    orders = load_table(spark, sf_dir, "orders")
    statuses = orders.select("o_orderstatus").distinct()
    grid = region.crossJoin(F.broadcast(statuses))
    per_status = orders.groupBy(F.col("o_orderstatus").alias("__st")).agg(
        F.count("*").alias("__n")
    )
    return (
        grid.join(F.broadcast(per_status), grid.o_orderstatus == per_status.__st, "left")
        .select("r_name", "o_orderstatus", F.coalesce("__n", F.lit(0)).alias("n"))
        # (region x status)-bounded grid
        .transform(lambda d: bounded_sort(d, "r_name", "o_orderstatus"))
    )


@register(
    "x27_salted_agg",
    # The salted two-stage aggregation must be indistinguishable from a
    # plain GROUP BY — the oracle IS the plain GROUP BY.
    oracle="""
        SELECT l_suppkey,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue
        FROM lineitem
        GROUP BY l_suppkey
        ORDER BY l_suppkey
    """,
    covers="skew-resistant salted aggregation == plain groupBy (scale technique, proven)",
    tags=("training", "olap"),
)
def x27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark.operators.skew import salted_agg

    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        salted_agg(
            lineitem,
            keys=["l_suppkey"],
            aggs={
                "n": ("count", None),
                "revenue": ("sum_cents", "l_extendedprice"),
            },
            salt=8,
        )
        # Exact integer-cents accumulation inside the operator; double
        # at the output boundary so the cross-engine value hash is
        # stable.
        .withColumn("revenue", F.col("revenue").cast("double") / 100)
        .orderBy("l_suppkey")
    )


@register(
    "x31_cube",
    # CUBE = all four grouping combinations, disambiguated by the
    # grouping id; totals are decimal-stabilized like x21.
    oracle="""
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY gid DESC, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    covers="CUBE multi-level aggregation + GROUPING id (OLAP surface)",
    tags=("olap",),
)
def x31(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
            .cast("int")
            .alias("gid"),
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double") / 100)
            .alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
        # (status x priority)-bounded grouping-sets output
        .transform(
            lambda d: bounded_sort(
                d,
                F.col("gid").desc(),
                F.asc_nulls_first("o_orderstatus"),
                F.asc_nulls_first("o_orderpriority"),
            )
        )
    )


@register(
    "x32_date_dimensions",
    # Calendar rollup from a raw timestamp: the date functions are the
    # cross-engine surface under test (EXTRACT == year()/month()).
    oracle="""
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
               CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
        FROM orders
        WHERE o_orderdate IS NOT NULL
        GROUP BY yr, mo
        ORDER BY yr, mo
    """,
    covers="date/time dimension extraction + calendar aggregation",
    tags=("olap",),
)
def x32(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
        )
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double") / 100)
            .alias("total"),
        )
        # calendar-bounded output
        .transform(lambda d: bounded_sort(d, "yr", "mo"))
    )


@register(
    "x33_array_agg_ordered",
    # Ordered array aggregation, serialized to a joined string so the
    # value hash is engine-independent (array text forms differ).
    oracle="""
        SELECT n_regionkey,
               STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey
    """,
    covers="ordered collect_list/array aggregation (array surface)",
    tags=("olap",),
)
def x33(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations")
        )
        # region-bounded output
        .transform(lambda d: bounded_sort(d, "n_regionkey"))
    )


@register(
    "x34_scalar_subquery",
    # Filter against a global aggregate. Spark side computes the scalar
    # as a 1-row broadcast join — the declarative twin of a correlated
    # scalar subquery, and the shape that scales (no driver collect).
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) * 1.5 FROM customer)
        ORDER BY c_custkey
    """,
    covers="scalar subquery (global aggregate as predicate operand)",
    tags=("olap",),
)
def x34(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    threshold = customer.agg((F.avg("c_acctbal") * 1.5).alias("__thr"))
    return (
        customer.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("__thr"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "x64_hll_sketch_rollup",
    oracle=None,  # Datasketches HLL estimates are engine-specific;
    # accuracy vs exact distinct counts is bound-tested in
    # tests/test_sketches.py (<= 2% error, exact mergeability).
    covers="mergeable HLL sketch rollup: fine sketches -> coarse distinct estimates (100 TB COUNT DISTINCT)",
    tags=("olap", "sketch"),
    min_rows=3,
)
def x64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark.operators.sketches import approx_distinct_rollup

    lineitem = load_table(spark, sf_dir, "lineitem")
    # Sketch at (returnflag, linestatus) — the granularity you would
    # persist — and answer the coarser per-returnflag question by
    # unioning sketches, never rescanning raw rows.
    return approx_distinct_rollup(
        lineitem,
        ["l_returnflag", "l_linestatus"],
        ["l_returnflag"],
        "l_suppkey",
    ).transform(lambda d: bounded_sort(d, "l_returnflag"))  # flag-bounded


@register(
    "x68_funnel_analysis",
    # Ordered 3-stage funnel per user: first view, first click AFTER
    # that view, first purchase AFTER that click. Stage-dependent mins
    # are two broadcast-joined re-aggregations of the same events scan
    # — the funnel shape a warehouse MATCH_RECOGNIZE would express,
    # built from joins both engines share.
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t1
            GROUP BY 1
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t2
            GROUP BY 1
        )
        SELECT v.user_id AS user_id,
               epoch_ns(v.t1) // 1000000000 AS first_view,
               epoch_ns(c.t2) // 1000000000 AS first_click_after,
               epoch_ns(p.t3) // 1000000000 AS first_purchase_after
        FROM v JOIN c ON v.user_id = c.user_id
               JOIN p ON v.user_id = p.user_id
        ORDER BY v.user_id
    """,
    covers="ordered funnel analysis: stage-dependent first-event times per user",
    tags=("olap", "events"),
)
def x68(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # The per-user stage tables are each read twice (the next stage's
    # probe + the final report join); lazy pins stop each reference
    # from re-scanning events (r11 plan: events scanned 6x, now 3x —
    # one pushed-filter scan per funnel stage).
    v = pin(
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1")),
        eager=False,
    )
    c = pin(
        events.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2")),
        eager=False,
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.join(c, "user_id")
        .join(p, "user_id")
        .select(
            "user_id",
            F.unix_timestamp("t1").alias("first_view"),
            F.unix_timestamp("t2").alias("first_click_after"),
            F.unix_timestamp("t3").alias("first_purchase_after"),
        )
        .orderBy("user_id")
    )


@register(
    "x69_cohort_retention",
    # Cohort = a user's first-activity day; retention = distinct users
    # of each cohort active again k days later. Two aggregations over
    # one events scan with the (small) cohort map broadcast back.
    oracle="""
        WITH first_day AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY 1
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_day,
                   datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_k
            FROM events e JOIN first_day f ON e.user_id = f.user_id
        )
        SELECT CAST(strftime(cohort_day, '%Y-%m-%d') AS VARCHAR) AS cohort_day,
               CAST(day_k AS INT) AS day_k,
               COUNT(*) AS n_users
        FROM activity
        WHERE day_k <= 7
        GROUP BY cohort_day, day_k
        ORDER BY cohort_day, day_k
    """,
    covers="cohort retention: first-activity cohorts x day-offset distinct activity",
    tags=("olap", "events"),
)
def x69(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    first_day = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    activity = (
        events.join(F.broadcast(first_day), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias("day_k"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_k") <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.col("day_k").cast("int").alias("day_k"),
        )
        .agg(F.count("*").alias("n_users"))
        # (calendar day x small k)-bounded output
        .transform(lambda d: bounded_sort(d, "cohort_day", "day_k"))
    )
