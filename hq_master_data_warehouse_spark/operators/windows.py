"""Window / ranking / pagination / top-k family (SURVEY ops W1-W3,
O1-O3 + rank/lag/lead engine surface).

The reference's only window-shaped ops are ordered offset/limit
pagination (companies/route.ts:8-9,40-41) and display enumeration
(page.tsx:454).  rank/dense_rank/lag/lead/frames are Spark-native
surface added per SURVEY.md par.2.5 over the ``events`` table.

Scale note: any ``Window.orderBy`` without ``partitionBy`` is a global
sort into one partition.  The engine confines that shape to
dashboard-sized inputs (post-filter pages); all analytic windows below
partition by ``user_id`` and scale horizontally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.prefix import ntile_from_rank, prefix_scan
from ..registry import query
from ..sources.loaders import load_table


# -- W1: ordered offset/limit pagination (companies/route.ts:40-41),
#    default page size 100 offset 0 (route.ts:8-9).
#    Scale shape: orderBy + limit(offset+size) compiles to
#    TakeOrderedAndProject -- a DISTRIBUTED top-k (each partition keeps
#    its local top 200, the driver merges) -- so the only global window
#    runs over <= offset+size rows, bounded by the page horizon, not
#    the table.  Deep pagination at 100 TB switches to keyset
#    (WHERE c_name > :last_seen ORDER BY c_name LIMIT n), which this
#    same plan serves with the filter pushed into the scan.
@query(
    "pagination_offset_limit",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(row_number() OVER (ORDER BY c_name) AS INT) AS rn
    FROM customer
    QUALIFY rn > 100 AND rn <= 200
    """,
)
def pagination_offset_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    page_horizon = (
        customer.select("c_custkey", "c_name")
        .orderBy("c_name")
        .limit(200)
    )
    w = Window.orderBy("c_name")  # over <= 200 rows -- not the table
    return (
        page_horizon.select(
            "c_custkey", "c_name", F.row_number().over(w).alias("rn")
        )
        .filter((F.col("rn") > 100) & (F.col("rn") <= 200))
    )


# -- O1/O2/O3: sort asc/desc + head-N.  Catalyst compiles orderBy+limit
#    to TakeOrderedAndProject (distributed top-k, no global sort).
#    Unique-key tiebreak keeps results deterministic across engines.
@query(
    "sort_topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def sort_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


# -- rank/dense_rank/lag/lead over a partitioned event stream.
@query(
    "window_rank_lag_lead",
    oracle="""
    SELECT
        event_id, user_id, event_type, value,
        CAST(rank() OVER w AS INT) AS rnk,
        CAST(dense_rank() OVER w AS INT) AS drnk,
        lag(value) OVER w AS prev_value,
        lead(value) OVER w AS next_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_rank_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


# -- running total with an explicit frame (rowsBetween); decimal-cast
#    keeps the cumulative sum bit-identical across engines.
@query(
    "window_running_total",
    oracle="""
    SELECT
        event_id, user_id,
        CAST(SUM(CAST(value AS DECIMAL(30,4))) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS DOUBLE) AS running_value
    FROM events
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(30,4)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
    )


# -- W3: per-partition enumeration (page.tsx:454 display index).
@query(
    "window_enumerate_per_group",
    oracle="""
    SELECT n_nationkey, n_regionkey,
           CAST(row_number() OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
           ) AS INT) AS idx
    FROM nation
    """,
)
def window_enumerate_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    return nation.select(
        "n_nationkey",
        "n_regionkey",
        F.row_number().over(w).cast("int").alias("idx"),
    )


# -- distribution window functions (engine surface, SURVEY par.2.5
#    "not present" note): ntile quartiles, percent_rank, cume_dist
#    over acctbal within each market segment.  c_custkey breaks ties
#    so both engines' orderings are identical AND unique -- which is
#    what lets all three functions derive arithmetically from ONE
#    per-segment two-pass rank (r11: |segments| = 5, so a
#    segment-partitioned window put a fifth of customers through each
#    of 5 tasks; a grouped prefix_scan shuffles on (segment, acctbal
#    band) instead): with a unique ordering RANK == ROW_NUMBER, so
#    percent_rank = (rn-1)/(n-1), cume_dist = rn/n, and NTILE falls
#    out of ntile_from_rank exactly as in orders_rfm_scores.
@query(
    "window_distribution_functions",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(ntile(4) OVER w AS INT) AS bal_quartile,
           ROUND(percent_rank() OVER w, 6) AS bal_pct_rank,
           ROUND(cume_dist() OVER w, 6) AS bal_cume_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal, c_custkey)
    """,
)
def window_distribution_functions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    ranked = prefix_scan(
        customer,
        F.floor(F.col("c_acctbal") / F.lit(500)),
        [F.col("c_acctbal"), F.col("c_custkey")],
        [(F.lit(1), "rn")],
        groups=["c_mktsegment"],
    )
    sizes = customer.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("_n")
    )
    rn, n = F.col("rn"), F.col("_n")
    return (
        ranked.join(F.broadcast(sizes), "c_mktsegment")
        .select(
            "c_custkey",
            "c_mktsegment",
            ntile_from_rank(rn, n, 4).alias("bal_quartile"),
            F.round(
                F.when(n > 1, (rn - 1) / (n - 1)).otherwise(0.0), 6
            ).alias("bal_pct_rank"),
            F.round(rn / n, 6).alias("bal_cume_dist"),
        )
    )


# -- generic top-k per group (engine surface): rank window + filter,
#    the distributed replacement for per-group ORDER BY ... LIMIT
#    loops.  Ties broken by key so both engines cut identically.
@query(
    "window_topk_per_group",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rk
    FROM (
        SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS INT) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )
