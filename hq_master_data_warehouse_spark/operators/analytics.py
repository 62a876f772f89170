"""Warehouse analytics surface: cohort retention, event transitions,
share-of-total, period-over-period growth, SCD2 history, per-group
mode, RFM segmentation, data-quality audit, and a Pareto skyline.

These extend SURVEY par.2.4/par.2.5 the same way the TPC-H plans do:
shapes a warehouse user of the reference would run daily (the
reference's dashboard derives remaining/sent metrics client-side,
src/app/page.tsx:361-388; these are the grown-up versions of those
derivations), each expressed as one declarative plan so Catalyst keeps
scans single-pass and aggregates partial+final.

Scale notes are inline per operator; the recurring theme is that every
window is partitioned by a real key (user, customer, price) except
where the windowed domain is itself an aggregate output (months,
distinct prices) -- orders of magnitude smaller than the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.prefix import ntile_from_rank, prefix_scan
from ..functions.scalars import dec_sum, dec_sum_sql
from ..registry import query
from ..session import fan_out_scan
from ..sources.loaders import load_table


# -- cohort retention: users grouped by first-seen week, activity
#    counted per (cohort_week, weeks_since).  The cohort assignment is
#    a per-user MIN window over one events shuffle on user_id -- not a
#    groupBy + join-back: the join formulation needs the |users|-row
#    cohort table broadcastable (false at billions of users, where it
#    degrades to a second full shuffle), while the window needs the
#    one user_id shuffle the countDistinct pass repartitions from
#    anyway.  Measured 1.8x faster at sf0.1 (0.56 s vs 1.03 s median,
#    idle local[32]), identical output.
@query(
    "events_cohort_retention",
    oracle="""
    WITH e AS (
        SELECT user_id,
               CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS wk
        FROM events
    ),
    cohort AS (
        SELECT user_id, MIN(wk) AS cohort_week FROM e GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(FLOOR(date_diff('day', c.cohort_week, e.wk) / 7.0)
                AS BIGINT) AS weeks_since,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM e JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk"),
    )
    w = Window.partitionBy("user_id")
    return (
        events.withColumn("cohort_week", F.min("wk").over(w))
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("wk"), F.col("cohort_week")) / 7.0
            ).alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# -- event-transition matrix (Markov bigram counts): what follows what,
#    per user, in event-time order.  One shuffle (window on user_id);
#    tie-break by event_id keeps lead() deterministic in both engines.
@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS cnt
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("cnt"))
    )


# -- share-of-total: each nation's revenue as a fraction of its
#    region's.  Revenue stays exact-decimal through the aggregate AND
#    the window sum (order-independent), converting to double only for
#    the final ratio (ROUND 6 per the cross-engine ratio convention).
#    The window runs over the 25-row nation aggregate, not the facts.
@query(
    "window_share_of_total",
    oracle=f"""
    WITH nat AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               SUM(CAST(o.o_totalprice AS DECIMAL(30,4))) AS rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation, CAST(rev AS DOUBLE) AS nation_rev,
           ROUND(CAST(rev AS DOUBLE)
                 / CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE),
                 6) AS share
    FROM nat
    """,
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    nat = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias(
                "rev"
            )
        )
    )
    w = Window.partitionBy("region")
    return nat.select(
        "region",
        "nation",
        F.col("rev").cast("double").alias("nation_rev"),
        F.round(
            F.col("rev").cast("double")
            / F.sum("rev").over(w).cast("double"),
            6,
        ).alias("share"),
    )


# -- month-over-month growth: lag over the monthly aggregate.  The
#    window is a single partition BY DESIGN over ~#months rows (the
#    aggregate output, thousands at most for decades of data) -- the
#    heavy lifting happened in the partial+final groupBy beneath it.
@query(
    "window_month_over_month",
    oracle=f"""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               {dec_sum_sql('o_totalprice', 'rev')}
        FROM orders GROUP BY 1
    )
    SELECT month, rev,
           LAG(rev) OVER (ORDER BY month) AS prev_rev,
           ROUND((rev - LAG(rev) OVER (ORDER BY month))
                 / LAG(rev) OVER (ORDER BY month), 6) AS growth
    FROM m
    """,
)
def window_month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias(
            "month"
        )
    ).agg(dec_sum("o_totalprice", "rev"))
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "month",
        "rev",
        prev.alias("prev_rev"),
        F.round((F.col("rev") - prev) / prev, 6).alias("growth"),
    )


# -- SCD Type-2 history build: each order becomes a validity interval
#    [valid_from, valid_to) closed by the customer's next order; the
#    open interval is the current state.  One shuffle, partitioned by
#    the entity key -- embarrassingly parallel across customers.
@query(
    "scd2_order_history",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS valid_to,
           (LEAD(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL) AS is_current
    FROM orders
    """,
)
def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# -- sorted group-concat: the listagg/string_agg surface.  collect_list
#    has no distributed ordering guarantee, so sort AFTER collection
#    (array_sort) -- deterministic regardless of partitioning.
@query(
    "agg_string_agg",
    oracle="""
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


# -- per-group mode with deterministic tie-break (count DESC, then
#    value ASC): the most frequent event per user.  count + one ranked
#    window over the (user, type) aggregate -- never over raw events.
@query(
    "agg_mode_per_group",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY user_id, event_type
    ),
    r AS (
        SELECT user_id, event_type, cnt,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY cnt DESC, event_type ASC
               ) AS rn
        FROM c
    )
    SELECT user_id, event_type AS top_event, cnt FROM r WHERE rn = 1
    """,
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event"), "cnt")
    )


# -- RFM segmentation: recency/frequency/monetary quartiles.  NTILE
#    semantics preserved exactly (custkey tie-breaks), but computed
#    WITHOUT the three global single-partition NTILE sorts: each
#    metric gets a distributed two-pass global rank (prefix_scan,
#    bucketed on month / order-count / spend-band) and the quartile
#    falls out arithmetically (ntile_from_rank).  The oracle states
#    plain NTILE windows -- same values, scale-safe plan.
@query(
    "orders_rfm_scores",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               COUNT(*) AS n_orders,
               {dec_sum_sql('o_totalprice', 'spend')}
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_order, n_orders, spend,
           CAST(NTILE(4) OVER (ORDER BY last_order DESC, o_custkey)
                AS INT) AS r_quartile,
           CAST(NTILE(4) OVER (ORDER BY n_orders DESC, o_custkey)
                AS INT) AS f_quartile,
           CAST(NTILE(4) OVER (ORDER BY spend DESC, o_custkey)
                AS INT) AS m_quartile
    FROM per_cust
    """,
)
def orders_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # per_cust fans out to three rank passes (each reads it twice);
    # cache the small per-customer aggregate instead of re-running the
    # orders groupBy six times.
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("n_orders"),
            dec_sum("o_totalprice", "spend"),
        )
        .cache()
    )
    n_rows = F.col("_n")
    total = per_cust.agg(F.count("*").alias("_n"))

    # r14 (VERDICT r13 item 6): the three metric ranks used to be
    # three INDEPENDENT global-rank branches joined back on
    # o_custkey -- 26 exchanges / 18 stages of tiny data, 31 task-s
    # of which only 14 were CPU (scheduling tax at bench scale, and
    # three full passes over the customer table at any scale).  They
    # are now ONE grouped prefix_scan over the customer table
    # MELTED to (metric, sortval) rows: per-metric rank semantics are
    # identical because each metric's (sortval DESC, o_custkey) order
    # is a monotone image of the original sort (date -> epoch days,
    # count, spend -- each cast losslessly to DECIMAL(38,6)), the
    # coarse bucket is the NEGATED original bucket (so bucket ASC
    # still prefixes the DESC row order), and ranks are computed
    # within the metric group.  One shuffle of 3N melted rows
    # replaces three shuffles of N plus three join-backs.
    melted = per_cust.select(
        "o_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("m"),
                    # TIMESTAMP_NTZ -> exact epoch micros (session TZ
                    # is pinned UTC): injective + monotone, so the
                    # DESC order and its ties match last_order DESC
                    F.expr("unix_micros(cast(last_order as timestamp))")
                    .cast("decimal(38,6)")
                    .alias("sortval"),
                    (-F.unix_date(F.date_trunc("month", F.col("last_order")).cast("date")))
                    .cast("long")
                    .alias("bk"),
                ),
                F.struct(
                    F.lit(1).alias("m"),
                    F.col("n_orders").cast("decimal(38,6)").alias("sortval"),
                    (-F.col("n_orders")).cast("long").alias("bk"),
                ),
                F.struct(
                    F.lit(2).alias("m"),
                    F.col("spend").cast("decimal(38,6)").alias("sortval"),
                    (-F.floor(F.col("spend") / 50000.0)).cast("long").alias("bk"),
                ),
            )
        ).alias("e"),
    ).select("o_custkey", "e.m", "e.sortval", "e.bk")
    ranked_m = prefix_scan(
        melted,
        F.col("bk"),
        [F.col("sortval").desc(), F.col("o_custkey")],
        [(F.lit(1), "rn")],
        groups=["m"],
    )
    ranks = ranked_m.groupBy("o_custkey").agg(
        F.max(F.when(F.col("m") == 0, F.col("rn"))).alias("_r_rn"),
        F.max(F.when(F.col("m") == 1, F.col("rn"))).alias("_f_rn"),
        F.max(F.when(F.col("m") == 2, F.col("rn"))).alias("_m_rn"),
    )
    ranked = per_cust.join(ranks, "o_custkey")
    return ranked.crossJoin(F.broadcast(total)).select(
        "o_custkey",
        "last_order",
        "n_orders",
        "spend",
        ntile_from_rank(F.col("_r_rn"), n_rows, 4).alias("r_quartile"),
        ntile_from_rank(F.col("_f_rn"), n_rows, 4).alias("f_quartile"),
        ntile_from_rank(F.col("_m_rn"), n_rows, 4).alias("m_quartile"),
    )


# -- data-quality constraint audit: referential orphans (anti-joins),
#    key uniqueness, null-rate checks -- one summary row per
#    constraint.  Each check is a single scan or broadcast-able
#    anti-join; this is the continuous-validation shape (expect/assert
#    suites) run before promoting a snapshot.  Zero violations on the
#    fixtures proves the checks run; the operator's value is the plan.
@query(
    "dq_constraint_checks",
    oracle="""
    SELECT 'lineitem_orphan_orderkey' AS check_name,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
               AS violations
    UNION ALL
    SELECT 'orders_orphan_custkey',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'orders_dup_orderkey',
           (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
    UNION ALL
    SELECT 'customer_null_mktsegment',
           (SELECT COUNT(*) FROM customer WHERE c_mktsegment IS NULL)
    UNION ALL
    SELECT 'events_null_event_type',
           (SELECT COUNT(*) FROM events WHERE event_type IS NULL)
    """,
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.col("violations").cast("long").alias("violations"),
        )

    checks = [
        one(
            "lineitem_orphan_orderkey",
            lineitem.join(
                orders,
                lineitem.l_orderkey == orders.o_orderkey,
                "left_anti",
            ).agg(F.count("*").alias("violations")),
        ),
        one(
            "orders_orphan_custkey",
            orders.join(
                customer,
                orders.o_custkey == customer.c_custkey,
                "left_anti",
            ).agg(F.count("*").alias("violations")),
        ),
        one(
            "orders_dup_orderkey",
            orders.agg(
                (
                    F.count("*") - F.countDistinct("o_orderkey")
                ).alias("violations")
            ),
        ),
        one(
            "customer_null_mktsegment",
            customer.filter(F.col("c_mktsegment").isNull()).agg(
                F.count("*").alias("violations")
            ),
        ),
        one(
            "events_null_event_type",
            events.filter(F.col("event_type").isNull()).agg(
                F.count("*").alias("violations")
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# -- Pareto skyline (price vs size): parts not dominated by any part
#    both cheaper-or-equal and larger-or-equal (strict in one).  The
#    naive form is an O(n^2) self-join; this plan reduces it to a
#    distributed per-price aggregate + ONE ordered window over the
#    distinct-price domain (|prices| << |parts|), then a hash join
#    back.  At 100 TB: range-partition prices, local running max per
#    partition, prefix-merge the per-partition maxima (tiny) -- the
#    same two-level pattern AQE uses for sort-free prefix scans.
@query(
    "part_skyline_pareto",
    oracle="""
    SELECT a.p_partkey, a.p_name, a.p_retailprice, a.p_size
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size >= a.p_size
          AND (b.p_retailprice < a.p_retailprice
               OR b.p_size > a.p_size)
    )
    """,
)
def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Banded prefix-max, no single-partition window: per-price maxima
    # shuffle on a 100-unit PRICE BAND and prefix-max locally per band
    # in parallel; only the per-band summary (one row per band -- a
    # bounded domain, not the data) takes a global window, and its
    # exclusive running max is broadcast back.  prev_mx = max of sizes
    # at strictly lower prices = greatest(in-band prefix, prior-band
    # running max).
    part = load_table(spark, sf_dir, "part")
    per_price = (
        part.groupBy("p_retailprice")
        .agg(F.max("p_size").alias("mx_size"))
        .withColumn("band", F.floor(F.col("p_retailprice") / 100))
    )
    w_in = (
        Window.partitionBy("band")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_price = per_price.withColumn(
        "in_band_prev", F.max("mx_size").over(w_in)
    )
    band_summary = per_price.groupBy("band").agg(
        F.max("mx_size").alias("band_mx")
    )
    w_band = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    band_prev = band_summary.select(
        "band", F.max("band_mx").over(w_band).alias("band_prev_mx")
    )
    per_price = per_price.join(F.broadcast(band_prev), "band")
    # greatest() skips NULLs, so first-price-in-first-band rows keep
    # prev_mx NULL and the coalesce below treats them as undominated.
    per_price = per_price.withColumn(
        "prev_mx", F.greatest("in_band_prev", "band_prev_mx")
    )
    joined = part.join(per_price, "p_retailprice")
    dominated = (
        F.coalesce(
            F.col("prev_mx") >= F.col("p_size"), F.lit(False)
        )
    ) | (F.col("mx_size") > F.col("p_size"))
    return joined.filter(~dominated).select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )


# -- rolling 7-day revenue: a RANGE frame over a day-number ordering
#    (gaps in the calendar shrink the window -- a rows-frame would
#    silently span them).  The window runs over the ~|days| daily
#    aggregate, not the fact table; a per-key rolling variant would
#    partition by the key first.  Revenue stays exact-decimal through
#    both the daily and the rolling sum.
@query(
    "window_rolling_7day_revenue",
    oracle=f"""
    WITH d AS (
        SELECT o_orderdate AS day,
               date_diff('day', DATE '1992-01-01', o_orderdate)
                   AS daynum,
               {dec_sum_sql('o_totalprice', 'rev')}
        FROM orders GROUP BY 1, 2
    )
    SELECT day, rev,
           SUM(rev) OVER (
               ORDER BY daynum
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS rolling_7d
    FROM d
    """,
)
def window_rolling_7day_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").alias("day"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias(
            "daynum"
        ),
    ).agg(dec_sum("o_totalprice", "rev"))
    w = Window.orderBy("daynum").rangeBetween(-6, Window.currentRow)
    return daily.select(
        "day", "rev", F.sum("rev").over(w).alias("rolling_7d")
    )


# -- first-touch attribution: each purchase event credited to the
#    user's most recent PRIOR signup/click (LAST_VALUE ... IGNORE
#    NULLS over a preceding-rows frame -- the null-skipping window
#    surface).  One shuffle on user_id; frames never leave a user's
#    partition.
@query(
    "events_purchase_attribution",
    oracle="""
    WITH seq AS (
        SELECT event_id, user_id, ts, event_type,
               LAST_VALUE(
                   CASE WHEN event_type IN ('signup', 'click')
                        THEN event_type END IGNORE NULLS
               ) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS touch_type
        FROM events
    )
    SELECT event_id, user_id, touch_type,
           (touch_type IS NULL) AS unattributed
    FROM seq WHERE event_type = 'purchase'
    """,
)
def events_purchase_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type").isin("signup", "click"),
            F.col("event_type"),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        events.withColumn("touch_type", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "touch_type",
            F.col("touch_type").isNull().alias("unattributed"),
        )
    )


# -- cumulative distinct users by day WITHOUT an expanding-distinct
#    window (which would hold per-frame state proportional to history).
#    The first-occurrence trick: distinct is decomposed into "count
#    each user on their first day" (one groupBy) + a running SUM over
#    the tiny daily aggregate.  This is the scale-correct shape for
#    "users to date" dashboards at any corpus size.
@query(
    "window_running_distinct_users",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        FROM events GROUP BY user_id
    ),
    newbies AS (
        SELECT day, COUNT(*) AS new_users FROM firsts GROUP BY day
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT d.day,
           COALESCE(n.new_users, 0) AS new_users,
           -- CAST: DuckDB window SUM(BIGINT) -> HUGEINT -> float64
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day)
                AS BIGINT) AS users_to_date
    FROM days d LEFT JOIN newbies n ON n.day = d.day
    """,
)
def window_running_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = events.groupBy("user_id").agg(F.min("day").alias("day"))
    newbies = firsts.groupBy("day").agg(F.count("*").alias("new_users"))
    days = events.select("day").distinct()
    joined = days.join(newbies, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("day")
    return joined.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("users_to_date"),
    )


# -- event-type co-occurrence with PMI over (user, day) contexts: the
#    association-mining counterpart of the adjacency-based transition
#    matrix.  Contexts are distinct (user, day, type) triples, so the
#    pair join is bounded by types-per-context, not raw event volume;
#    PMI's products stay integer-exact inside the ln.
@query(
    "events_cooccurrence_pmi",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        FROM events
    ),
    n AS (
        SELECT COUNT(*) AS n_ctx FROM (
            SELECT DISTINCT user_id, day FROM ud
        )
    ),
    singles AS (
        SELECT event_type, COUNT(*) AS c FROM ud GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS c_ab
        FROM ud a JOIN ud b
          ON a.user_id = b.user_id AND a.day = b.day
         AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.c_ab,
           FLOOR(ln(CAST(p.c_ab AS DOUBLE) * n.n_ctx
                    / (sa.c * CAST(sb.c AS DOUBLE)))
                 * 1000000) / 1000000 AS pmi
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    CROSS JOIN n
    """,
)
def events_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).distinct()
    n = ud.select("user_id", "day").distinct().agg(
        F.count("*").alias("n_ctx")
    )
    singles = ud.groupBy("event_type").agg(F.count("*").alias("c"))
    a = ud.select(
        "user_id", "day", F.col("event_type").alias("type_a")
    )
    b = ud.select(
        "user_id", "day", F.col("event_type").alias("type_b")
    )
    pairs = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("c_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("c").alias("ca")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("c").alias("cb")
    )
    pmi = (
        F.floor(
            F.log(
                F.col("c_ab").cast("double")
                * F.col("n_ctx")
                / (F.col("ca") * F.col("cb").cast("double"))
            )
            * 1000000
        )
        / 1000000
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n))
        .select("type_a", "type_b", "c_ab", pmi.alias("pmi"))
    )


PIT_DATE = "1995-06-15"


# -- point-in-time lookup over the SCD2 history: each customer's
#    state as of a date, via interval containment (valid_from <= d <
#    valid_to, open current interval included).  Expressed as the
#    history build + a containment filter, so Catalyst fuses it into
#    the window scan -- no second pass.  The scale note: a PIT date
#    predicate prunes history partitions when valid_from is the
#    partition column.
@query(
    "scd2_point_in_time",
    oracle=f"""
    WITH hist AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               o_orderdate AS valid_from,
               LEAD(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
               ) AS valid_to
        FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, valid_from, valid_to
    FROM hist
    WHERE valid_from <= DATE '{PIT_DATE}'
      AND (valid_to IS NULL OR valid_to > DATE '{PIT_DATE}')
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    hist = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    d = F.lit(PIT_DATE).cast("date")
    return hist.filter(
        (F.col("valid_from") <= d)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > d))
    )


BASKET_TOP_K = 5


# -- market-basket co-purchase: for every part, the top-K parts
#    appearing in the same order (the item-item recommender seed).
#    The pair join is keyed on l_orderkey, so its size is bounded by
#    items-per-order squared (small constant), never corpus^2; the
#    per-part top-K is a ranked window over the pair AGGREGATE.  At
#    100 TB hot parts skew the aggregate -- salt the (part_a) key or
#    cap basket width upstream.
@query(
    "basket_copurchase_topk",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS together
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    )
    SELECT part_a, part_b, together, rk FROM (
        SELECT part_a, part_b, together,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY part_a
                   ORDER BY together DESC, part_b
               ) AS INT) AS rk
        FROM pairs
    ) WHERE rk <= {BASKET_TOP_K}
    """,
)
def basket_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        "l_orderkey", F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        "l_orderkey", F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") != F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("together"))
    )
    w = Window.partitionBy("part_a").orderBy(
        F.desc("together"), F.asc("part_b")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BASKET_TOP_K)
        .select("part_a", "part_b", "together", "rk")
    )


# -- time-to-convert: per user, seconds from first signup to the
#    first purchase AT OR AFTER it (timestamp arithmetic is
#    microsecond-integer exact, so the oracle matches bit-for-bit).
#    Two conditional MINs in one grouped pass -- no self-join, no
#    window over raw events.
@query(
    "events_time_to_convert",
    oracle="""
    WITH m AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END)
                   AS first_signup
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id,
               MIN(e.ts) AS first_purchase
        FROM events e JOIN m ON m.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= m.first_signup
        GROUP BY e.user_id
    )
    SELECT m.user_id, m.first_signup, c.first_purchase,
           CAST(date_diff('second', m.first_signup, c.first_purchase)
                AS BIGINT) AS seconds_to_convert
    FROM m LEFT JOIN c ON c.user_id = m.user_id
    WHERE m.first_signup IS NOT NULL
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    m = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("first_signup")
    )
    c = (
        events.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(m), "user_id")
        .filter(F.col("ts") >= F.col("first_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        m.filter(F.col("first_signup").isNotNull())
        .join(c, "user_id", "left")
        .select(
            "user_id",
            "first_signup",
            "first_purchase",
            (
                F.unix_timestamp("first_purchase")
                - F.unix_timestamp("first_signup")
            ).alias("seconds_to_convert"),
        )
    )


PSI_BUCKETS = 10


# -- data-drift detection (PSI): the distribution of event values on
#    even days-of-month vs odd (a scale-factor-independent period
#    split; production splits on a deployment timestamp), over
#    fixed-width buckets.  Output is per-bucket contributions (the
#    auditable form; the scalar PSI is their sum) -- emitting rows
#    avoids summing doubles in engine-defined aggregation order.
#    Integer counts widen to double only in the final expression;
#    buckets with a zero side get the standard 1e-6 floor.
@query(
    "drift_psi_event_values",
    oracle=f"""
    WITH b AS (
        SELECT CASE WHEN day(CAST(ts AS DATE)) % 2 = 1
                    THEN 'base' ELSE 'cur' END AS period,
               LEAST(CAST(FLOOR(value / 50.0) AS INT),
                     {PSI_BUCKETS - 1}) AS bucket
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    c AS (
        SELECT bucket,
               COUNT(CASE WHEN period = 'base' THEN 1 END) AS n_base,
               COUNT(CASE WHEN period = 'cur' THEN 1 END) AS n_cur
        FROM b GROUP BY bucket
    ),
    t AS (
        SELECT SUM(n_base) AS t_base, SUM(n_cur) AS t_cur FROM c
    )
    SELECT c.bucket,
           c.n_base, c.n_cur,
           FLOOR((GREATEST(c.n_base / CAST(t.t_base AS DOUBLE), 1e-6)
                  - GREATEST(c.n_cur / CAST(t.t_cur AS DOUBLE), 1e-6))
                 * ln(GREATEST(c.n_base / CAST(t.t_base AS DOUBLE), 1e-6)
                      / GREATEST(c.n_cur / CAST(t.t_cur AS DOUBLE), 1e-6))
                 * 1000000) / 1000000 AS psi_term
    FROM c CROSS JOIN t
    """,
)
def drift_psi_event_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    b = events.filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    ).select(
        F.when(F.dayofmonth(F.to_date("ts")) % 2 == 1, "base")
        .otherwise("cur")
        .alias("period"),
        F.least(
            F.floor(F.col("value") / 50.0).cast("int"),
            F.lit(PSI_BUCKETS - 1),
        ).alias("bucket"),
    )
    c = b.groupBy("bucket").agg(
        F.count(F.when(F.col("period") == "base", 1)).alias("n_base"),
        F.count(F.when(F.col("period") == "cur", 1)).alias("n_cur"),
    )
    t = c.agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cur").alias("t_cur")
    )
    p = F.greatest(
        F.col("n_base") / F.col("t_base").cast("double"), F.lit(1e-6)
    )
    q = F.greatest(
        F.col("n_cur") / F.col("t_cur").cast("double"), F.lit(1e-6)
    )
    return c.crossJoin(F.broadcast(t)).select(
        "bucket",
        "n_base",
        "n_cur",
        (F.floor((p - q) * F.log(p / q) * 1000000) / 1000000).alias(
            "psi_term"
        ),
    )


# -- robust outlier audit via MAD (median absolute deviation): the
#    monitoring op behind "did this feed's value distribution go
#    sideways" alerts.  Median/MAD resist the very outliers they
#    detect (unlike mean/stddev z-scores).  EXACT percentiles keep
#    both engines bit-identical (sort-based, order-independent); the
#    100 TB path swaps in approx_percentile with the same plan shape.
#    Two grouped aggregates + one equi-join on the (tiny) per-type
#    medians -- the fact table shuffles once per phase on event_type.
MAD_K = 3.0 * 1.4826  # 3 sigma-equivalents under normality


@query(
    "events_value_mad_outliers",
    oracle=f"""
    WITH e AS (
        SELECT event_type, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL
    ),
    med AS (
        SELECT event_type, quantile_cont(v, 0.5) AS med
        FROM e GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.v, m.med, abs(e.v - m.med) AS d
        FROM e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(d, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT dev.event_type,
           COUNT(*) AS n,
           ROUND(MAX(dev.med), 6) AS med,
           ROUND(MAX(mad.mad), 6) AS mad,
           CAST(SUM(CASE WHEN dev.d > {MAD_K} * mad.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    """,
)
def events_value_mad_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("double").alias("v"))
    )
    med = events.groupBy("event_type").agg(
        F.expr("percentile(v, 0.5D)").alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("v") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(d, 0.5D)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("d") > MAD_K * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# -- revenue trend: closed-form OLS slope/intercept over the monthly
#    revenue series (the forecasting primitive behind capacity
#    planning).  The moment sums (Sx, Sy, Sxx, Sxy) accumulate in
#    EXACT integer/decimal types -- summing doubles here would put
#    ~1e-5 engine-order noise against a 1e-6 rounding grain -- and
#    convert to double only inside the final identical formula.  The
#    series is one grouped aggregate (partial+final) over orders; the
#    regression itself runs on ~|months| rows.
@query(
    "orders_revenue_trend",
    oracle=f"""
    WITH m AS (
        SELECT date_diff('month', DATE '1992-01-01',
                         CAST(date_trunc('month', o_orderdate) AS DATE))
                   AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4)))
                    AS DECIMAL(28,4)) AS y
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y) AS DECIMAL(32,4)) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(8,0)) * y)
                    AS DECIMAL(36,4)) AS sxy
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE)) / n, 6) AS intercept
    FROM s
    """,
)
def orders_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate")),
            F.lit("1992-01-01").cast("date"),
        )
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
        .cast("decimal(28,4)")
        .alias("y")
    )
    s = monthly.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").cast("decimal(32,4)").alias("sy"),
        F.sum(F.col("x").cast("decimal(8,0)") * F.col("y"))
        .cast("decimal(36,4)")
        .alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, sxy = F.col("sy"), F.col("sxy")
    slope = (n * sxy - sx * sy).cast("double") / (
        (n * sxx - sx * sx).cast("double")
    )
    return s.select(
        n.cast("long").alias("n_months"),
        F.round(slope, 6).alias("slope"),
        F.round(
            (sy.cast("double") - slope * sx.cast("double")) / n, 6
        ).alias("intercept"),
    )


# -- CUSUM changepoint detection over daily event volume: the feed-
#    monitoring op that catches sustained level shifts MAD outliers
#    miss.  The sequential recurrence s_i = max(0, s_{i-1} + (x_i -
#    mean)) has the windowed closed form s_i = cum_i - min(0,
#    running_min(cum_i)) -- expressible declaratively, no iteration.
#    All arithmetic is SCALED BY n (D_i = n*x_i - total) so everything
#    stays integer-exact in both engines; the alert fires when the
#    scaled statistic exceeds n*mean = total.  Windows run over the
#    per-day aggregate (|days| rows), not the fact table.
@query(
    "events_cusum_changepoint",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS tot FROM d
    ),
    c AS (
        SELECT day, x, tot,
               CAST(SUM(n * x - tot) OVER (ORDER BY day) AS BIGINT)
                   AS cum
        FROM d, s
    ),
    m AS (
        SELECT day, x, tot, cum,
               LEAST(CAST(0 AS BIGINT),
                     MIN(cum) OVER (ORDER BY day)) AS floor_cum
        FROM c
    )
    SELECT day,
           CAST(x AS BIGINT) AS daily_cnt,
           CAST(cum - floor_cum AS BIGINT) AS cusum_scaled,
           (cum - floor_cum) > tot AS alert
    FROM m
    """,
)
def events_cusum_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    d = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    s = d.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("tot"),
    )
    w = Window.orderBy("day")
    c = (
        d.crossJoin(F.broadcast(s))
        .withColumn(
            "cum",
            F.sum(F.col("n") * F.col("x") - F.col("tot"))
            .over(w)
            .cast("long"),
        )
        .withColumn(
            "floor_cum",
            F.least(F.lit(0).cast("long"), F.min("cum").over(w)),
        )
    )
    return c.select(
        "day",
        F.col("x").cast("long").alias("daily_cnt"),
        (F.col("cum") - F.col("floor_cum"))
        .cast("long")
        .alias("cusum_scaled"),
        ((F.col("cum") - F.col("floor_cum")) > F.col("tot")).alias(
            "alert"
        ),
    )


# -- concurrent-backlog curve: how many orders are OPEN (placed, not
#    yet fully shipped) on each day -- interval-overlap counting done
#    as the classic sweep: +1 at order date, -1 the day after the last
#    shipment, running sum over the (tiny) per-day delta table.  No
#    per-day interval join, no interval explosion: two grouped
#    aggregates over the facts and one window over |dates| rows.
@query(
    "orders_concurrent_backlog",
    oracle="""
    WITH span AS (
        SELECT o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS start_d,
               CAST(MAX(l.l_shipdate) AS DATE) AS end_d
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT start_d AS day, 1 AS delta FROM span
        UNION ALL
        SELECT end_d + 1, -1 FROM span
    ),
    d AS (
        SELECT day, CAST(SUM(delta) AS BIGINT) AS net_delta
        FROM deltas GROUP BY day
    )
    SELECT day, net_delta,
           CAST(SUM(net_delta) OVER (ORDER BY day) AS BIGINT)
               AS open_orders
    FROM d
    """,
)
def orders_concurrent_backlog(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    span = (
        lineitem.join(
            orders,
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("start_d"))
        .agg(F.to_date(F.max("l_shipdate")).alias("end_d"))
    )
    deltas = span.select(
        F.col("start_d").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        span.select(
            F.date_add("end_d", 1).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    d = deltas.groupBy("day").agg(
        F.sum("delta").cast("long").alias("net_delta")
    )
    w = Window.orderBy("day")
    return d.select(
        "day",
        "net_delta",
        F.sum("net_delta").over(w).cast("long").alias("open_orders"),
    )


# -- behavioral entropy per user: Shannon entropy of each user's
#    event-type distribution -- the diversity feature behind bot
#    detection (H ~ 0) and engagement scoring.  Two grouped counts,
#    both keyed on real columns; the log arithmetic is one shared
#    double formulation rounded to 6 decimals.
@query(
    "events_user_entropy",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type
    ),
    t AS (
        SELECT user_id, CAST(SUM(n) AS DOUBLE) AS tot,
               COUNT(*) AS n_types
        FROM c GROUP BY user_id
    )
    SELECT c.user_id,
           CAST(MAX(t.n_types) AS BIGINT) AS n_types,
           ROUND(-SUM((c.n / t.tot) * ln(c.n / t.tot)), 6) AS entropy
    FROM c JOIN t USING (user_id)
    GROUP BY c.user_id
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )
    t = c.groupBy("user_id").agg(
        F.sum("n").cast("double").alias("tot"),
        F.count("*").alias("n_types"),
    )
    p = F.col("n") / F.col("tot")
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n_types").cast("long").alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
    )


# -- top-decile concentration: what share of all events do the top 10%
#    of users generate (the engagement-concentration KPI).  The user
#    rank comes from the bucketed two-pass prefix_scan on the
#    per-user aggregate -- no single-partition sort -- and the decile
#    cutoff is ceil(n/10) by (count DESC, user_id).  One output row.
@query(
    "events_top_decile_share",
    oracle="""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS cnt
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, user_id) AS rn
        FROM per_user
    ),
    s AS (SELECT COUNT(*) AS n_users, CAST(SUM(cnt) AS BIGINT)
                     AS total_events
          FROM per_user)
    SELECT s.n_users,
           s.total_events,
           CAST(SUM(CASE WHEN rn <= CAST(CEIL(s.n_users / 10.0)
                                          AS BIGINT)
                    THEN cnt ELSE 0 END) AS BIGINT)
               AS top_decile_events,
           ROUND(CAST(SUM(CASE WHEN rn <= CAST(CEIL(s.n_users / 10.0)
                                                AS BIGINT)
                         THEN cnt ELSE 0 END) AS DOUBLE)
                 / s.total_events, 6) AS top_decile_share
    FROM ranked, s
    GROUP BY s.n_users, s.total_events
    """,
)
def events_top_decile_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.count("*").alias("cnt")
    )
    ranked = prefix_scan(
        per_user,
        -F.col("cnt"),
        [F.col("cnt").desc(), F.col("user_id")],
        [(F.lit(1), "rn")],
    )
    s = per_user.agg(
        F.count("*").alias("n_users"),
        F.sum("cnt").cast("long").alias("total_events"),
    )
    cut = F.ceil(F.col("n_users") / 10.0).cast("long")
    top_events = F.sum(
        F.when(F.col("rn") <= cut, F.col("cnt")).otherwise(0)
    ).cast("long")
    return (
        ranked.crossJoin(F.broadcast(s))
        .groupBy("n_users", "total_events")
        .agg(
            top_events.alias("top_decile_events"),
            F.round(
                top_events.cast("double") / F.col("total_events"), 6
            ).alias("top_decile_share"),
        )
    )


# -- chi-square independence audit: is event type independent of
#    day-of-week?  The categorical drift test that complements the
#    numeric PSI check (drift_psi_event_values) -- a high statistic
#    means the mix shifts by weekday and any daily sample is biased.
#    Contingency counts and margins are exact integers; the statistic
#    is one shared double formula over the (tiny) cells table, rounded
#    to 6.  Scale: one grouped count over the facts; margins derive
#    from the cells, not a second scan.
@query(
    "events_chi2_type_dow",
    oracle="""
    WITH cells AS (
        SELECT event_type, dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
               COUNT(*) AS obs
        FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS row_n
           FROM cells GROUP BY event_type),
    cm AS (SELECT dow, CAST(SUM(obs) AS BIGINT) AS col_n
           FROM cells GROUP BY dow),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS total FROM cells)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((COUNT(DISTINCT c.event_type) - 1)
                * (COUNT(DISTINCT c.dow) - 1) AS BIGINT) AS dof,
           ROUND(SUM(
               POW(c.obs - CAST(rm.row_n AS DOUBLE) * cm.col_n
                           / n.total, 2)
               / (CAST(rm.row_n AS DOUBLE) * cm.col_n / n.total)
           ), 6) AS chi2
    FROM cells c
    JOIN rm USING (event_type)
    JOIN cm USING (dow)
    CROSS JOIN n
    """,
)
def events_chi2_type_dow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # Spark dayofweek is Sunday=1..7, DuckDB's is Sunday=0..6; the
    # chi2/dof outputs are relabeling-invariant (dow is only a
    # grouping key), but the labels are aligned to DuckDB's 0-base
    # anyway so exposing per-cell rows later cannot silently diverge.
    cells = events.groupBy(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    ).agg(F.count("*").alias("obs"))
    rm = cells.groupBy("event_type").agg(
        F.sum("obs").cast("long").alias("row_n")
    )
    cm = cells.groupBy("dow").agg(
        F.sum("obs").cast("long").alias("col_n")
    )
    n = cells.agg(F.sum("obs").cast("long").alias("total"))
    expected = (
        F.col("row_n").cast("double")
        * F.col("col_n")
        / F.col("total")
    )
    return (
        cells.join(F.broadcast(rm), "event_type")
        .join(F.broadcast(cm), "dow")
        .crossJoin(F.broadcast(n))
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            (
                (F.countDistinct("event_type") - 1)
                * (F.countDistinct("dow") - 1)
            )
            .cast("long")
            .alias("dof"),
            F.round(
                F.sum(
                    F.pow(F.col("obs") - expected, 2) / expected
                ),
                6,
            ).alias("chi2"),
        )
    )


# -- cohort lifetime value: cumulative revenue per acquisition cohort,
#    normalized per customer -- retention's money twin and the other
#    half of every growth dashboard.  Shapes: two grouped aggregates
#    (first-order month per customer; revenue per cohort x age) plus a
#    cumulative window that runs over the AGGREGATED cohort-age table
#    only (bounded: cohorts x months, a few hundred rows at any scale)
#    -- never over the fact table.  Money goes through exact decimal
#    sums; the cumulative add runs in identical (age-ordered) sequence
#    in both engines, so the doubles match bit-for-bit pre-round.
@query(
    "orders_cohort_ltv",
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               CAST(date_trunc('month', CAST(o_orderdate AS DATE))
                    AS DATE) AS mo,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    first AS (
        SELECT o_custkey, MIN(mo) AS cohort FROM o GROUP BY o_custkey
    ),
    sizes AS (
        SELECT cohort, COUNT(*) AS cohort_customers
        FROM first GROUP BY cohort
    ),
    rev AS (
        SELECT f.cohort,
               CAST(date_diff('month', f.cohort, o.mo) AS INT)
                   AS age_months,
               COUNT(*) AS n_orders,
               CAST(SUM(o.cents) AS BIGINT) AS cents
        FROM o JOIN first f USING (o_custkey)
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT r.cohort, r.age_months, r.n_orders, r.cents,
               CAST(SUM(r.cents) OVER (
                   PARTITION BY r.cohort ORDER BY r.age_months
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_cents,
               s.cohort_customers
        FROM rev r JOIN sizes s USING (cohort)
    )
    SELECT cohort, age_months, n_orders,
           cents / 100.0 AS revenue,
           ((2 * cum_cents + cohort_customers)
            // (2 * cohort_customers)) / 100.0 AS ltv_per_customer
    FROM cum
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # money rides as exact integer cents end-to-end (sums, the
    # cumulative window, and the final per-customer division with
    # half-away integer rounding) -- ROUND-on-double is never called,
    # because its half-tie behavior differs between engines (Spark
    # rounds the shortest decimal representation, DuckDB the binary
    # value: 1258260.285 -> .29 vs .28).
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias(
            "mo"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first = orders.groupBy("o_custkey").agg(F.min("mo").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count("*").alias("cohort_customers")
    )
    rev = (
        orders.join(first, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year("mo") - F.year("cohort")) * 12
                + (F.month("mo") - F.month("cohort"))
            )
            .cast("int")
            .alias("age_months"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort")
        .withColumn("cum_cents", F.sum("cents").over(w).cast("long"))
        .select(
            "cohort",
            "age_months",
            "n_orders",
            (F.col("cents") / 100.0).alias("revenue"),
            (
                F.expr(
                    "(2 * cum_cents + cohort_customers)"
                    " div (2 * cohort_customers)"
                )
                / 100.0
            ).alias("ltv_per_customer"),
        )
    )


#: SES smoothing factor and the literal weight tables both engines
#: share: SES unrolls to a linear filter s_t = sum_i w(i,t) * x_i with
#: w(i,t) = a*(1-a)^(t-i) for i>1 and (1-a)^(t-1) for the seed term,
#: so embedding the powers as literals makes the arithmetic
#: bit-identical across engines (no libm pow at query time).
SES_ALPHA = 0.3
_SES_MAX_T = 120
#: weights quantized to 9 decimal digits and carried as EXACT DECIMAL
#: literals: a double weight table makes the level a sum of doubles,
#: and when that sum lands within an ULP of a .005 cent boundary the
#: two engines' final ROUND-on-double disagree (observed live at
#: sf0.001: 4695438.225 -> .23 Spark / .22 DuckDB).  Decimal weights x
#: integer cents keep the whole filter exact and order-independent;
#: the only rounding is HALF_UP on an exact decimal, identical in
#: both engines.
from decimal import Decimal as _Dec

_SES_A = [
    _Dec(f"{SES_ALPHA * (1 - SES_ALPHA) ** j:.9f}")
    for j in range(_SES_MAX_T)
]
_SES_B = [
    _Dec(f"{(1 - SES_ALPHA) ** k:.9f}") for k in range(_SES_MAX_T)
]
_SES_A_SQL = (
    "[" + ", ".join(f"CAST({x} AS DECIMAL(10,9))" for x in _SES_A) + "]"
)
_SES_B_SQL = (
    "[" + ", ".join(f"CAST({x} AS DECIMAL(10,9))" for x in _SES_B) + "]"
)


# -- simple-exponential-smoothing revenue forecast: the classic
#    one-parameter baseline every demand-planning dashboard carries.
#    The recurrence is unrolled into a bounded linear filter over the
#    MONTHLY aggregate table (one row per month -- dozens of rows at
#    any corpus size), so the quadratic month x month join and the
#    global row_number are both over a bounded-domain summary, never
#    the fact table: the same shape as the bucket-total tables in
#    prefix_scan.  Money aggregates ride exact integer cents.
@query(
    "orders_forecast_ses",
    oracle=f"""
    WITH m AS (
        SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE))
                    AS DATE) AS mo,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT mo, cents,
               CAST(row_number() OVER (ORDER BY mo) AS INT) AS t
        FROM m
    )
    SELECT cur.mo,
           cur.cents / 100.0 AS revenue,
           CAST(ROUND(SUM(
               CAST(prior.cents AS DECIMAL(20,0))
               * CASE WHEN prior.t = 1
                      THEN ({_SES_B_SQL})[cur.t]
                      ELSE ({_SES_A_SQL})[cur.t - prior.t + 1]
                 END
           ), 0) AS DOUBLE) / 100.0 AS ses_level
    FROM idx cur JOIN idx prior ON prior.t <= cur.t
    GROUP BY cur.mo, cur.cents
    """,
)
def orders_forecast_ses(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.to_date(
                F.date_trunc("month", F.col("o_orderdate"))
            ).alias("mo"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("mo")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    # global row_number over the bounded monthly summary only
    idx = monthly.withColumn(
        "t",
        F.row_number().over(Window.orderBy("mo")).cast("int"),
    ).cache()
    dec = "decimal(10,9)"
    a_arr = F.array(*[F.lit(x).cast(dec) for x in _SES_A])
    b_arr = F.array(*[F.lit(x).cast(dec) for x in _SES_B])
    cur = idx.select(
        F.col("mo"), F.col("cents"), F.col("t").alias("tc")
    )
    prior = idx.select(
        F.col("cents").alias("pcents"), F.col("t").alias("tp")
    )
    weight = F.when(
        F.col("tp") == 1, F.element_at(b_arr, F.col("tc"))
    ).otherwise(F.element_at(a_arr, F.col("tc") - F.col("tp") + 1))
    # exact decimal cents x decimal weights: the level is an exact
    # decimal, so HALF_UP rounding agrees with the oracle by value,
    # not by luck of the double ULP.  Decimal agg leaves codegen, but
    # only over the bounded month x month join.
    return (
        cur.join(prior, F.col("tp") <= F.col("tc"))
        .groupBy("mo", "cents")
        .agg(
            (
                F.round(
                    F.sum(
                        F.col("pcents").cast("decimal(20,0)") * weight
                    ),
                    0,
                ).cast("double")
                / 100.0
            ).alias("ses_level")
        )
        .select(
            "mo",
            (F.col("cents") / 100.0).alias("revenue"),
            "ses_level",
        )
    )


# -- Gini coefficient of customer revenue concentration: the standard
#    inequality summary every revenue dashboard carries next to the
#    top-decile share.  G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))
#    over ascending-sorted x: ranks come from the distributed
#    two-pass prefix_scan (never a single-partition sort); every
#    input to the final formula is an exact integer, and both engines
#    evaluate the identical double expression on those integers, so
#    the ROUND(6) digits cannot diverge.
@query(
    "agg_gini_revenue",
    oracle="""
    WITH cust AS (
        SELECT o_custkey AS ck,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, ck) AS rk
        FROM cust
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) / 100.0 AS total_revenue,
           ROUND(
               (2.0 * CAST(SUM(rk * cents) AS DOUBLE)
                - (CAST(COUNT(*) AS DOUBLE) + 1.0)
                  * CAST(SUM(cents) AS DOUBLE))
               / (CAST(COUNT(*) AS DOUBLE)
                  * CAST(SUM(cents) AS DOUBLE)), 6) AS gini
    FROM ranked
    """,
)
def agg_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini over per-customer revenue (exact cents; rank*cents sums
    ride DECIMAL(38,0) for overflow headroom far past 100 TB customer
    counts -- the decimal agg runs over the per-customer summary, not
    the fact table)."""
    cust = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("ck"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("c"),
        )
        .groupBy("ck")
        .agg(F.sum("c").alias("cents"))
        .cache()  # prefix_scan consumes its input twice
    )
    ranked = prefix_scan(
        cust,
        F.floor(F.col("cents") / 100000),
        [F.col("cents"), F.col("ck")],
        [(F.lit(1), "rk")],
    )
    # cast an OPERAND to decimal so the product itself is decimal --
    # casting the int64 product would overflow silently first at the
    # rank*cents scale the headroom claim covers
    s = F.sum(
        F.col("rk").cast("decimal(38,0)") * F.col("cents")
    ).cast("double")
    t = F.sum(F.col("cents").cast("decimal(38,0)"))
    n = F.count("*")
    return ranked.agg(
        n.cast("long").alias("n_customers"),
        (t.cast("double") / 100.0).alias("total_revenue"),
        F.round(
            (2.0 * s - (n.cast("double") + 1.0) * t.cast("double"))
            / (n.cast("double") * t.cast("double")),
            6,
        ).alias("gini"),
    )


#: ABC thresholds as exact integer comparisons: A while cum <= 80% of
#: total (5*cum <= 4*T), B while cum <= 95% (20*cum <= 19*T).
_ABC_CLASS_SQL = """
    CASE WHEN 5 * cum <= 4 * tot THEN 'A'
         WHEN 20 * cum <= 19 * tot THEN 'B'
         ELSE 'C' END
"""


# -- ABC (Pareto) classification of parts by cumulative revenue
#    share: the inventory-management classic (A ~ top 80% of revenue,
#    B next 15%, C tail).  The global running share comes from
#    prefix_scan (two-pass, banded on a revenue decade), so no
#    table-sized single-partition window; class boundaries are exact
#    integer comparisons on cents -- no percentage double ever
#    decides a row's class.
@query(
    "orders_abc_classification",
    oracle=f"""
    WITH pr AS (
        SELECT l_partkey AS pk,
               SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                   AS cents
        FROM lineitem GROUP BY 1
    ),
    c AS (
        SELECT cents,
               CAST(SUM(cents) OVER (
                   ORDER BY cents DESC, pk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
               CAST(SUM(cents) OVER () AS BIGINT) AS tot
        FROM pr
    )
    SELECT {_ABC_CLASS_SQL} AS abc_class,
           COUNT(*) AS n_parts,
           CAST(SUM(cents) AS BIGINT) / 100.0 AS class_revenue
    FROM c
    GROUP BY 1
    """,
)
def orders_abc_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A/B/C revenue classes over parts (80/95 cumulative cuts,
    revenue-descending, partkey tie-break)."""
    pr = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("pk"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("c"),
        )
        .groupBy("pk")
        .agg(F.sum("c").alias("cents"))
        .cache()  # consumed by the two-pass prefix sum AND `tot`
    )
    cum = prefix_scan(
        pr,
        -F.floor(F.log10(F.col("cents") + 1) * 4),
        [F.col("cents").desc(), F.col("pk")],
        [("cents", "cum")],
    )
    tot = pr.agg(F.sum("cents").alias("tot"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.expr(_ABC_CLASS_SQL).alias("abc_class"),
            "cents",
        )
        .groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            (F.sum("cents") / 100.0).alias("class_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Peak concurrency (interval sweep over sessions)
# ---------------------------------------------------------------------------
# Capacity planning's headline number: the maximum number of user
# sessions open at the same instant, and the earliest instant it is
# reached.  Sessions are the standard 30-minute-gap sessionization of
# the events stream, each living on the half-open interval
# [first_event, last_event + 60s).  The sweep is the classic +1/-1
# endpoint encoding; at equal timestamps ends sort before starts
# (delta ASC), which IS the half-open semantics, and user_id breaks
# the remaining ties so both engines walk one canonical order.
#
# Scale shape: the running sum is NOT a single-partition global
# window -- endpoints are bucketed by day, the within-bucket prefix
# sum runs partitioned per bucket, and the cross-bucket offset is a
# prefix sum over the tiny per-day total table (rows = distinct days
# -- the two-pass idiom of functions/prefix.py::prefix_scan).  The
# final reduction is a scalar max + a filtered min.
@query(
    "events_peak_concurrency",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, session_no,
               MIN(ts) AS start_ts,
               MAX(ts) + INTERVAL 60 SECOND AS end_ts
        FROM (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id
                                    ORDER BY ts, new_s DESC
                                    ROWS UNBOUNDED PRECEDING)
                       AS session_no
            FROM ordered
        ) GROUP BY user_id, session_no
    ),
    endpoints AS (
        SELECT start_ts AS ts, 1 AS delta, user_id FROM sessions
        UNION ALL
        SELECT end_ts AS ts, -1 AS delta, user_id FROM sessions
    ),
    swept AS (
        SELECT ts,
               SUM(delta) OVER (ORDER BY ts, delta, user_id
                                ROWS UNBOUNDED PRECEDING) AS open_now
        FROM endpoints
    ),
    peak AS (SELECT MAX(open_now) AS p FROM swept)
    SELECT CAST(peak.p AS BIGINT) AS peak_concurrency,
           (SELECT MIN(ts) FROM swept WHERE open_now = peak.p)
               AS peak_ts,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sessions)
               AS n_sessions
    FROM peak
    """,
)
def events_peak_concurrency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(wu).cast(
        "long"
    )
    new_s = (
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias(
            "new_s"
        )
    )
    numbered = events.select("user_id", "ts", new_s).withColumn(
        "session_no",
        F.sum("new_s").over(
            Window.partitionBy("user_id")
            .orderBy(F.col("ts"), F.col("new_s").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sessions = numbered.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("start_ts"),
        F.expr("MAX(ts) + INTERVAL 60 SECONDS").alias("end_ts"),
    ).cache()  # read by endpoints AND the n_sessions scalar branch
    # one explode, not a self-union: a union's branches would each
    # re-run the whole sessionization (scan + per-user windows) --
    # explode emits both endpoints from a single pass
    endpoints = sessions.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("start_ts").alias("ts"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    F.col("end_ts").alias("ts"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("ep"),
        "user_id",
    ).select("ep.ts", "ep.delta", "user_id")
    # two-pass distributed prefix sum on per-day buckets (never a
    # global single-partition sort of the endpoints themselves)
    swept = (
        prefix_scan(
            endpoints,
            F.to_date("ts"),
            ["ts", "delta", "user_id"],
            [("delta", "open_now")],
        )
        .select("ts", "open_now")
        .cache()  # read by the peak scalar AND the peak_ts filter
    )
    peak = swept.agg(F.max("open_now").cast("long").alias("p"))
    peak_ts = (
        swept.join(F.broadcast(peak), F.col("open_now") == F.col("p"))
        .agg(F.min("ts").alias("peak_ts"))
    )
    n_sessions = sessions.agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    return (
        peak.select(F.col("p").alias("peak_concurrency"))
        .crossJoin(F.broadcast(peak_ts))
        .crossJoin(F.broadcast(n_sessions))
    )


# ---------------------------------------------------------------------------
# 2-D Pareto skyline
# ---------------------------------------------------------------------------
# The skyline operator (Borzsony/Kossmann/Stocker, ICDE 2001): orders
# not dominated on (totalprice, orderdate) -- no other order is
# strictly more expensive AND strictly more recent.  The classic
# "best trade-offs" query a native engine ships as SKYLINE OF; Spark
# has no such operator, so it is re-expressed as pure relational
# algebra with the bucketed two-pass idiom:
#
#   1. bucket orders by price band; per-bucket MAX(date) is a tiny
#      B-row table, and a row is cross-bucket dominated iff the
#      running MAX(date) over STRICTLY higher bands (every row there
#      is strictly pricier by construction) exceeds its date;
#   2. within its own band, compare against the per-distinct-price
#      running MAX(date) over strictly higher prices -- windows
#      partitioned per band over the distinct-price table.
#
# No O(n^2) dominance join anywhere: the quadratic NOT EXISTS lives
# only in the oracle (DuckDB's IEJoin handles it at gate scale).
# Both passes are exact -- double comparisons on identical parquet
# values -- so the skyline set matches the oracle row-for-row.
# Scale: pass 1 shuffles once on the band key; pass 2's windows are
# per-band; the band table (O(B)) broadcasts.
_SKY_BAND = 20000.0


@query(
    "orders_pareto_skyline",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
    FROM orders o
    WHERE NOT EXISTS (
        SELECT 1 FROM orders q
        WHERE q.o_totalprice > o.o_totalprice
          AND q.o_orderdate > o.o_orderdate
    )
    """,
)
def orders_pareto_skyline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    banded = orders.withColumn(
        "band",
        F.floor(F.col("o_totalprice") / _SKY_BAND).cast("int"),
    ).cache()  # read by band_max, price_max, and the final join
    band_max = banded.groupBy("band").agg(
        F.max("o_orderdate").alias("bmax")
    )
    # max date over STRICTLY higher price bands (tiny table, O(B))
    higher = band_max.withColumn(
        "hmax",
        F.max("bmax").over(
            Window.orderBy(F.col("band").desc()).rowsBetween(
                Window.unboundedPreceding, -1
            )
        ),
    ).select("band", "hmax")
    # within-band: running max date over strictly higher DISTINCT
    # prices (grouping first makes "strictly higher" a row boundary)
    price_max = banded.groupBy("band", "o_totalprice").agg(
        F.max("o_orderdate").alias("pmax")
    )
    wband = (
        Window.partitionBy("band")
        .orderBy(F.col("o_totalprice").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = price_max.withColumn(
        "wmax", F.max("pmax").over(wband)
    ).select("band", "o_totalprice", "wmax")
    return (
        banded.join(F.broadcast(higher), "band")
        .join(within, ["band", "o_totalprice"])
        .filter(
            (
                F.col("hmax").isNull()
                | (F.col("hmax") <= F.col("o_orderdate"))
            )
            & (
                F.col("wmax").isNull()
                | (F.col("wmax") <= F.col("o_orderdate"))
            )
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# Theil inequality index (decomposable entropy-based concentration)
# ---------------------------------------------------------------------------
# The inequality measure that, unlike Gini (agg_gini_revenue), is
# ADDITIVELY DECOMPOSABLE: total T = within-group + between-group, so
# a revenue-concentration drill-down by market segment is exact, not
# heuristic.  Per segment: T_g = (1/n_g) * SUM_i (x_i/mu_g) *
# ln(x_i/mu_g) over per-customer revenue.
#
# Exactness: revenues are exact cent sums; each customer's term is
# ONE double ratio of exact quantities passed through ln() once and
# quantized to DECIMAL(38,9) (the events_user_entropy per-cell-ln
# discipline), so the segment sums are exact decimal sums -- order-
# independent and map-side combinable.  Scale: one grouped sum per
# customer (partial-agg), one bounded segment table after; the
# decomposition identity is pinned by a pytest, not recomputed here.
@query(
    "agg_theil_inequality",
    oracle="""
    WITH cust_rev AS (
        SELECT c.c_custkey, c.c_mktsegment AS segment,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_mktsegment
    ),
    seg AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS seg_cents
        FROM cust_rev GROUP BY segment
    )
    SELECT r.segment,
           MAX(s.n_customers) AS n_customers,
           MAX(s.seg_cents) AS seg_cents,
           ROUND(CAST(SUM(CAST(ROUND(
               (r.cents * s.n_customers / CAST(s.seg_cents AS DOUBLE))
               * ln(r.cents * s.n_customers
                    / CAST(s.seg_cents AS DOUBLE)), 9)
               AS DECIMAL(38,9))) AS DOUBLE)
               / MAX(s.n_customers), 6) AS theil_t
    FROM cust_rev r JOIN seg s USING (segment)
    GROUP BY r.segment
    """,
)
def agg_theil_inequality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cust_rev = (
        orders.join(
            customer,
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy("c_custkey", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
        .cache()  # read by the segment rollup AND the term join
    )
    seg = cust_rev.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("seg_cents"),
    )
    joined = cust_rev.join(F.broadcast(seg), "segment")
    # x_i / mu_g as (cents * n) / seg_cents: one double division of
    # exact integers, identical in both engines
    ratio = (
        F.col("cents") * F.col("n_customers")
    ) / F.col("seg_cents").cast("double")
    term = F.round(ratio * F.log(ratio), 9).cast("decimal(38,9)")
    return joined.groupBy("segment").agg(
        F.max("n_customers").alias("n_customers"),
        F.max("seg_cents").alias("seg_cents"),
        F.round(
            F.sum(term).cast("double") / F.max("n_customers"), 6
        ).alias("theil_t"),
    )


# ---------------------------------------------------------------------------
# Daily revenue drawdown (running-peak analytics)
# ---------------------------------------------------------------------------
# The time-series risk shape SQL engines ship as MAX() OVER running
# frames: cumulative daily revenue, its running peak, and the
# peak-to-trough drawdown per day.  The same clamped-recurrence trick
# (x_t = S_t - min prefix of S) powers backlog simulation; here the
# direct running-max form suffices.  All values are exact cent longs,
# and the windows run over the bounded DAY domain (one row per day --
# the engine's documented bounded-domain single-partition idiom, same
# as the open-orders sweep); the raw scan reduces to that domain in
# one map-side-combinable pass.
@query(
    "orders_daily_drawdown",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS day_cents
        FROM orders GROUP BY day
    ),
    cum AS (
        SELECT day, day_cents,
               SUM(day_cents) OVER (ORDER BY day
                                    ROWS UNBOUNDED PRECEDING)
                   AS cum_cents
        FROM daily
    ),
    series AS (
        SELECT day, day_cents, cum_cents,
               MAX(cum_cents) OVER (ORDER BY day
                                    ROWS UNBOUNDED PRECEDING)
                   AS peak_cents
        FROM cum
    )
    SELECT day, day_cents,
           CAST(cum_cents AS BIGINT) AS cum_cents,
           CAST(peak_cents AS BIGINT) AS peak_cents,
           CAST(peak_cents - cum_cents AS BIGINT) AS drawdown_cents
    FROM series
    """,
)
def orders_daily_drawdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("day_cents")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    series = daily.select(
        "day",
        "day_cents",
        F.sum("day_cents").over(w).cast("long").alias("cum_cents"),
    )
    return series.select(
        "day",
        "day_cents",
        "cum_cents",
        F.max("cum_cents").over(w).cast("long").alias("peak_cents"),
        (F.max("cum_cents").over(w) - F.col("cum_cents"))
        .cast("long")
        .alias("drawdown_cents"),
    )


# ---------------------------------------------------------------------------
# Clamped backlog recurrence (queue simulation)
# ---------------------------------------------------------------------------
# Supply-chain / queueing's daily backlog: carried work can never go
# negative, so backlog_t = max(0, backlog_{t-1} + demand_t - cap).
# The recurrence LOOKS sequential, but has the closed form
# backlog_t = S_t - min(0, min_{s<=t} S_s) with S the running sum of
# (demand - capacity) -- two window passes, no iteration (the same
# de-recursion family as the Holt/SES unrollings).  Capacity is the
# ceiling of mean daily demand, an exact integer derived from the
# data itself (no magic constant), broadcast as a 1-row scalar.  All
# arithmetic is exact longs over the bounded day domain.
@query(
    "orders_backlog_clamped",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS demand
        FROM orders GROUP BY day
    ),
    cap AS (
        SELECT CAST((SUM(demand) + COUNT(*) - 1) // COUNT(*)
                    AS BIGINT) AS capacity
        FROM daily
    ),
    s AS (
        SELECT day, demand, capacity,
               SUM(demand - capacity) OVER (ORDER BY day
                                            ROWS UNBOUNDED PRECEDING)
                   AS st
        FROM daily CROSS JOIN cap
    ),
    closed AS (
        SELECT day, demand, capacity, st,
               MIN(st) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS runmin
        FROM s
    )
    SELECT day, demand, capacity,
           CAST(st - LEAST(runmin, 0) AS BIGINT) AS backlog
    FROM closed
    """,
)
def orders_backlog_clamped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.count("*").cast("long").alias("demand"))
    cap = daily.agg(
        (
            (F.sum("demand") + F.count("*") - 1)
            / F.count("*")
        )
        .cast("long")
        .alias("capacity")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = daily.crossJoin(F.broadcast(cap)).withColumn(
        "st",
        F.sum(F.col("demand") - F.col("capacity")).over(w),
    )
    return s.select(
        "day",
        "demand",
        "capacity",
        (
            F.col("st")
            - F.least(F.min("st").over(w), F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("backlog"),
    )


# ---------------------------------------------------------------------------
# Sequence-pattern funnel (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------
# Behavioral pattern matching without a row-pattern engine: each
# user's event-type sequence collapses to an ordered initials string
# (c/s/e/v/p), and funnel conversions are regex matches of
# 'v[^p]*p' -- a view followed by a purchase with no purchase in
# between, each purchase consumed once (the non-overlapping scan both
# Java regex and RE2 share for this alternation-free pattern).  This
# is the sequence-as-string idiom that expresses MATCH_RECOGNIZE
# classes Spark lacks natively.  Scale: per-user strings are bounded
# by per-user event counts; the collect/sort runs partitioned per
# user, and the regex is one JVM-side expression.
FUNNEL_PATTERN = "v[^p]*p"


@query(
    "events_pattern_regex_funnel",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS s,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(s, '{FUNNEL_PATTERN}'))
                AS BIGINT) AS n_conversions,
           CAST(len(regexp_extract_all(s, '{FUNNEL_PATTERN}')) > 0
                AS BIGINT) AS converted
    FROM seq
    """,
)
def events_pattern_regex_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    seq = events.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias(
                                "i"
                            ),
                        )
                    )
                ),
                lambda r: r["i"],
            ),
            "",
        ).alias("s"),
        F.count("*").cast("long").alias("n_events"),
    )
    n_conv = F.regexp_count(F.col("s"), F.lit(FUNNEL_PATTERN))
    return seq.select(
        "user_id",
        "n_events",
        n_conv.cast("long").alias("n_conversions"),
        (n_conv > 0).cast("long").alias("converted"),
    )


# ---------------------------------------------------------------------------
# Lorenz concentration curve
# ---------------------------------------------------------------------------
# The full concentration curve behind the Gini scalar
# (agg_gini_revenue) and the ABC classes: customers ranked by revenue
# ascending, cut into 10 population deciles, each reporting its
# cumulative population share and cumulative revenue share -- the
# (x, y) points of the Lorenz curve.  The rank comes from the
# bucketed two-pass prefix_scan (no single-partition sort of
# customers); decile arithmetic and share numerators are exact longs,
# each share is one double division rounded at the end.
@query(
    "orders_lorenz_curve",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS r,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cust) AS n,
               (SELECT CAST(SUM(cents) AS BIGINT) FROM cust) AS tot
        FROM cust
    ),
    dec AS (
        SELECT CAST(((r - 1) * 10) // n AS INT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS dec_cents,
               MAX(n) AS n, MAX(tot) AS tot
        FROM ranked GROUP BY decile
    )
    SELECT decile, n_customers, dec_cents,
           ROUND(CAST(SUM(n_customers) OVER w AS DOUBLE) / n, 6)
               AS cum_pop_share,
           ROUND(CAST(SUM(dec_cents) OVER w AS DOUBLE) / tot, 6)
               AS cum_rev_share
    FROM dec
    WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    """,
)
def orders_lorenz_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    ranked = prefix_scan(
        cust,
        F.floor(F.col("cents") / 1_000_000).cast("long"),
        [F.col("cents"), F.col("o_custkey")],
        [(F.lit(1), "r")],
    )
    tot = cust.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
    )
    dec = (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(
            F.floor((F.col("r") - 1) * 10 / F.col("n"))
            .cast("int")
            .alias("decile")
        )
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("dec_cents"),
            F.max("n").alias("n"),
            F.max("tot").alias("tot"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return dec.select(
        "decile",
        "n_customers",
        "dec_cents",
        F.round(
            F.sum("n_customers").over(w).cast("double") / F.col("n"),
            6,
        ).alias("cum_pop_share"),
        F.round(
            F.sum("dec_cents").over(w).cast("double") / F.col("tot"),
            6,
        ).alias("cum_rev_share"),
    )


# ---------------------------------------------------------------------------
# Markov entropy rate of the event-type chain
# ---------------------------------------------------------------------------
# How predictable is user behavior?  The conditional entropy
# H(next | current) of the empirical event-type transition chain
# (events_transition_matrix's cells), alongside the marginal entropy
# H(next) and their difference -- the mutual information the current
# state carries about the next.  Bounded |types|^2 cells, exact
# transition counts, ln once per cell: the entropy-family discipline.
@query(
    "events_entropy_rate",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS nxt
        FROM events
    ),
    c AS (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM c),
    mc AS (SELECT cur, CAST(SUM(n) AS DOUBLE) AS nc FROM c GROUP BY cur),
    mn AS (SELECT nxt, CAST(SUM(n) AS DOUBLE) AS nn FROM c GROUP BY nxt),
    hc AS (
        SELECT ROUND(-SUM((c.n / tot.t) * ln(c.n / mc.nc)), 6)
                   AS h_cond,
               CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM c JOIN mc USING (cur) CROSS JOIN tot
    ),
    hn AS (
        SELECT ROUND(-SUM((nn / tot.t) * ln(nn / tot.t)), 6) AS h_next
        FROM mn CROSS JOIN tot
    )
    SELECT h_cond, h_next, n_cells,
           ROUND(h_next - h_cond, 6) AS info_gain
    FROM hc CROSS JOIN hn
    """,
)
def events_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    c = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").cast("long").alias("n"))
        .cache()  # bounded cell table read by tot/mc/mn and the join
    )
    tot = c.agg(F.sum("n").cast("double").alias("t"))
    mc = c.groupBy("cur").agg(F.sum("n").cast("double").alias("nc"))
    mn = c.groupBy("nxt").agg(F.sum("n").cast("double").alias("nn"))
    hc = (
        c.join(mc, "cur")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                -F.sum(
                    (F.col("n") / F.col("t"))
                    * F.log(F.col("n") / F.col("nc"))
                ),
                6,
            ).alias("h_cond"),
            F.count("*").cast("long").alias("n_cells"),
        )
    )
    hn = mn.crossJoin(F.broadcast(tot)).agg(
        F.round(
            -F.sum(
                (F.col("nn") / F.col("t"))
                * F.log(F.col("nn") / F.col("t"))
            ),
            6,
        ).alias("h_next")
    )
    return (
        hc.crossJoin(F.broadcast(hn))
        .select(
            "h_cond",
            "h_next",
            "n_cells",
            F.round(F.col("h_next") - F.col("h_cond"), 6).alias(
                "info_gain"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence of the event-type mix across periods
# ---------------------------------------------------------------------------
# The symmetric, always-finite companion to drift_psi_event_values:
# JS divergence between the event-TYPE distribution of the base
# period and the current period (same odd/even day-of-month split as
# PSI -- scale-factor-independent; production splits on a deployment
# timestamp).  Unlike PSI/KL it needs no epsilon floor: a type seen
# in only one period contributes p*ln(2) finitely.  Output is
# per-type term rows (the auditable form; the scalar JS is their sum
# and is bounded by ln 2) -- emitting rows avoids summing doubles in
# engine-defined aggregation order, and each term is floor-quantized
# at 1e-6 exactly like psi_term.  100 TB shape: one grouped count
# over the fact table (map-side partial) + a broadcast 1-row total.
@query(
    "drift_js_event_types",
    oracle="""
    WITH b AS (
        SELECT CASE WHEN day(CAST(ts AS DATE)) % 2 = 1
                    THEN 'base' ELSE 'cur' END AS period,
               event_type
        FROM events
    ),
    c AS (
        SELECT event_type,
               COUNT(CASE WHEN period = 'base' THEN 1 END) AS n_base,
               COUNT(CASE WHEN period = 'cur' THEN 1 END) AS n_cur
        FROM b GROUP BY event_type
    ),
    t AS (
        SELECT SUM(n_base) AS t_base, SUM(n_cur) AS t_cur FROM c
    ),
    pq AS (
        SELECT c.event_type, c.n_base, c.n_cur,
               c.n_base / CAST(t.t_base AS DOUBLE) AS p,
               c.n_cur / CAST(t.t_cur AS DOUBLE) AS q
        FROM c CROSS JOIN t
    )
    SELECT event_type, n_base, n_cur,
           FLOOR((0.5 * (CASE WHEN p = 0 THEN 0
                              ELSE p * ln(2 * p / (p + q)) END)
                  + 0.5 * (CASE WHEN q = 0 THEN 0
                               ELSE q * ln(2 * q / (p + q)) END))
                 * 1000000) / 1000000 AS js_term
    FROM pq
    """,
)
def drift_js_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    b = events.select(
        F.when(F.dayofmonth(F.to_date("ts")) % 2 == 1, "base")
        .otherwise("cur")
        .alias("period"),
        "event_type",
    )
    c = b.groupBy("event_type").agg(
        F.count(F.when(F.col("period") == "base", 1)).alias("n_base"),
        F.count(F.when(F.col("period") == "cur", 1)).alias("n_cur"),
    )
    t = c.agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cur").alias("t_cur")
    )
    p = F.col("n_base") / F.col("t_base").cast("double")
    q = F.col("n_cur") / F.col("t_cur").cast("double")
    half_p = F.when(p == 0, F.lit(0.0)).otherwise(
        p * F.log(2 * p / (p + q))
    )
    half_q = F.when(q == 0, F.lit(0.0)).otherwise(
        q * F.log(2 * q / (p + q))
    )
    return c.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n_base",
        "n_cur",
        (
            F.floor((0.5 * half_p + 0.5 * half_q) * 1000000) / 1000000
        ).alias("js_term"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration of customer revenue per region
# ---------------------------------------------------------------------------
# The antitrust-style concentration scalar completing the inequality
# family (agg_gini_revenue, agg_theil_inequality, orders_lorenz_
# curve): HHI = sum_i share_i^2 of customer revenue within each
# region.  Exactness: HHI == SUM(r_i^2) / SUM(r_i)^2 over integer
# cent revenues, so it needs only TWO exact aggregates per region
# (DECIMAL(38,0) sum of squares, BIGINT sum) and one final double
# division -- no per-customer double shares are ever summed.  Also
# reports the 1/n equal-share floor for reference.  100 TB shape:
# fact-table grouped agg on customer (map-side partial), broadcast
# joins to the tiny nation/region dims, second grouped agg on region.
@query(
    "agg_hhi_concentration",
    oracle="""
    WITH rev AS (
        SELECT c.c_custkey, c.c_nationkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS r
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT rg.r_name AS region,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(rev.r) AS BIGINT) AS total_cents,
               CAST(SUM(CAST(rev.r AS DECIMAL(38,0))
                        * CAST(rev.r AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS ssq
        FROM rev
        JOIN nation n ON rev.c_nationkey = n.n_nationkey
        JOIN region rg ON n.n_regionkey = rg.r_regionkey
        GROUP BY 1
    )
    SELECT region, n_customers,
           ROUND(total_cents / 100.0, 2) AS total_revenue,
           ROUND(CAST(ssq AS DOUBLE)
                 / (CAST(total_cents AS DOUBLE) * total_cents), 6)
               AS hhi,
           ROUND(1.0 / n_customers, 6) AS hhi_equal_floor
    FROM agg
    """,
)
def agg_hhi_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(
            customer,
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            )
            .cast("long")
            .alias("r")
        )
    )
    agg = (
        rev.join(
            F.broadcast(nation),
            rev["c_nationkey"] == nation["n_nationkey"],
        )
        .join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("r").cast("long").alias("total_cents"),
            F.sum(
                F.col("r").cast("decimal(38,0)")
                * F.col("r").cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("ssq"),
        )
    )
    return agg.select(
        "region",
        "n_customers",
        F.round(F.col("total_cents") / 100.0, 2).alias(
            "total_revenue"
        ),
        F.round(
            F.col("ssq").cast("double")
            / (
                F.col("total_cents").cast("double")
                * F.col("total_cents")
            ),
            6,
        ).alias("hhi"),
        F.round(1.0 / F.col("n_customers"), 6).alias(
            "hhi_equal_floor"
        ),
    )


# ---------------------------------------------------------------------------
# Atkinson inequality index (epsilon = 1) per region
# ---------------------------------------------------------------------------
# The welfare-theoretic member completing the inequality family
# (Gini, Theil, Lorenz, HHI): A(1) = 1 - geomean/mean of customer
# revenue within each region.  The geometric mean is where engines
# usually diverge (SUM of ln doubles in engine order); here each
# ln(cents) is FLOOR-quantized to integer micro-nats first (the NB
# discipline), so the per-region sum is an exact LONG and the final
# index is one double expression.  The quantization bias is bounded
# by 1e-6 nats per row -- below the 6-decimal output quantum.
@query(
    "agg_atkinson_index",
    oracle="""
    WITH rev AS (
        SELECT c.c_custkey, c.c_nationkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS r
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    q AS (
        SELECT rg.r_name AS region, rev.r,
               CAST(FLOOR(1000000 * ln(CAST(rev.r AS DOUBLE)))
                    AS BIGINT) AS lnq
        FROM rev
        JOIN nation n ON rev.c_nationkey = n.n_nationkey
        JOIN region rg ON n.n_regionkey = rg.r_regionkey
    ),
    agg AS (
        SELECT region, CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(r) AS BIGINT) AS s,
               CAST(SUM(lnq) AS BIGINT) AS sl
        FROM q GROUP BY region
    )
    SELECT region, n_customers,
           ROUND(EXP(CAST(sl AS DOUBLE) / 1000000 / n_customers)
                 / 100, 2) AS geomean_revenue,
           ROUND(CAST(s AS DOUBLE) / n_customers / 100, 2)
               AS mean_revenue,
           ROUND(1 - EXP(CAST(sl AS DOUBLE) / 1000000 / n_customers)
                     / (CAST(s AS DOUBLE) / n_customers), 6)
               AS atkinson_1
    FROM agg
    """,
)
def agg_atkinson_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            )
            .cast("long")
            .alias("r")
        )
    )
    q = (
        rev.join(
            F.broadcast(nation),
            rev["c_nationkey"] == nation["n_nationkey"],
        )
        .join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .select(
            F.col("r_name").alias("region"),
            "r",
            F.floor(1000000 * F.log(F.col("r").cast("double")))
            .cast("long")
            .alias("lnq"),
        )
    )
    agg = q.groupBy("region").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("r").cast("long").alias("s"),
        F.sum("lnq").cast("long").alias("sl"),
    )
    geo = F.exp(
        F.col("sl").cast("double") / 1000000 / F.col("n_customers")
    )
    mean = F.col("s").cast("double") / F.col("n_customers")
    return agg.select(
        "region",
        "n_customers",
        F.round(geo / 100, 2).alias("geomean_revenue"),
        F.round(mean / 100, 2).alias("mean_revenue"),
        F.round(1 - geo / mean, 6).alias("atkinson_1"),
    )


# ---------------------------------------------------------------------------
# Bollinger bands over daily revenue
# ---------------------------------------------------------------------------
# The volatility envelope behind "is today unusual": 7-day rolling
# mean +/- 2 sample standard deviations of daily revenue, plus the
# outside-band flag.  Rolling Sy and Syy are exact integer cent sums
# over the ROWS window (order-independent), so mid/upper/lower are
# fixed double expressions per row; warm-up rows (n < 7) report
# their shorter window honestly via n_window.  100 TB shape: the
# fact table collapses to the bounded calendar first; one ROWS
# window pass over the day table.
BOLL_WINDOW = 7
BOLL_K = 2.0


@query(
    "window_bollinger_bands",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    w AS (
        SELECT day, cents,
               CAST(COUNT(*) OVER win AS BIGINT) AS n_window,
               CAST(SUM(cents) OVER win AS BIGINT) AS sy,
               CAST(SUM(CAST(cents AS DECIMAL(38,0))
                        * CAST(cents AS DECIMAL(38,0))) OVER win
                    AS DECIMAL(38,0)) AS syy
        FROM daily
        WINDOW win AS (ORDER BY day
                       ROWS BETWEEN {BOLL_WINDOW - 1} PRECEDING
                                AND CURRENT ROW)
    ),
    bands AS (
        SELECT day, cents, n_window,
               CAST(sy AS DOUBLE) / n_window / 100 AS mid,
               CASE WHEN n_window < 2 THEN 0.0
                    ELSE SQRT((CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * sy / n_window)
                              / (n_window - 1)) / 100
               END AS sd
        FROM w
    )
    SELECT day, ROUND(cents / 100.0, 2) AS revenue,
           n_window,
           ROUND(mid, 4) AS mid_band,
           ROUND(mid + {BOLL_K} * sd, 4) AS upper_band,
           ROUND(mid - {BOLL_K} * sd, 4) AS lower_band,
           CASE WHEN cents / 100.0 > mid + {BOLL_K} * sd
                  OR cents / 100.0 < mid - {BOLL_K} * sd
                THEN 1 ELSE 0 END AS outside_band
    FROM bands
    """,
)
def window_bollinger_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    win = Window.orderBy("day").rowsBetween(
        -(BOLL_WINDOW - 1), Window.currentRow
    )
    w = daily.select(
        "day",
        "cents",
        F.count("*").over(win).cast("long").alias("n_window"),
        F.sum("cents").over(win).cast("long").alias("sy"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        )
        .over(win)
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    mid = F.col("sy").cast("double") / F.col("n_window") / 100
    sd = F.when(F.col("n_window") < 2, F.lit(0.0)).otherwise(
        F.sqrt(
            (
                F.col("syy").cast("double")
                - F.col("sy").cast("double")
                * F.col("sy")
                / F.col("n_window")
            )
            / (F.col("n_window") - 1)
        )
        / 100
    )
    rev = F.col("cents") / 100.0
    return w.select(
        "day",
        F.round(rev, 2).alias("revenue"),
        "n_window",
        F.round(mid, 4).alias("mid_band"),
        F.round(mid + BOLL_K * sd, 4).alias("upper_band"),
        F.round(mid - BOLL_K * sd, 4).alias("lower_band"),
        F.when(
            (rev > mid + BOLL_K * sd) | (rev < mid - BOLL_K * sd),
            1,
        )
        .otherwise(0)
        .alias("outside_band"),
    )


# ---------------------------------------------------------------------------
# Truncated EWMA of per-customer order revenue (r8)
# ---------------------------------------------------------------------------
# The exponential member of the TA window family (Bollinger = SMA
# bands, RSI = Wilder momentum, rolling OLS = trend): a 16-term
# truncated EWMA with alpha = 1/2 over each customer's order
# sequence.  The truncation and the alpha are chosen to make the op
# BIT-EXACT cross-engine, extending the r6 exactness discipline from
# integers to floating point:
#   - weights 2^-k are dyadic, and cents <= ~2^28 per order, so every
#     product cents * 2^-k is an exactly representable double
#     (<= 28+15 = 43 significant bits);
#   - all 16 products share denominator 2^15, so their double SUM is
#     exact in ANY association order (numerators sum below 2^53) --
#     Spark's and DuckDB's different addition orders cannot diverge;
#   - the available-terms weight sum is a subset-sum of dyadics
#     (exact), and one final IEEE division of identical operands is
#     correctly rounded identically in both engines.
# Weight literals are injected as F.lit(0.5**k) Spark-side and
# CAST(<repr> AS DOUBLE) in the oracle -- never bare SQL decimals,
# which Spark parses as DECIMAL and DuckDB as DOUBLE (the r6
# decimal-literal hazard).
# Scale: the window is PARTITIONED by customer (orders-per-customer
# bounded) and rows-based over 16 lags -- no global sort, no
# corpus-sized window state.
EWMA_TERMS = 16


def _ewma_weights() -> list[float]:
    return [0.5**k for k in range(EWMA_TERMS)]


def _ewma_oracle() -> str:
    lag_terms = []
    den_terms = []
    for k, w in enumerate(_ewma_weights()):
        lag = (
            "cents"
            if k == 0
            else f"LAG(cents, {k}) OVER win"
        )
        lit = f"CAST({w!r} AS DOUBLE)"
        lag_terms.append(
            f"COALESCE(CAST({lag} AS DOUBLE) * {lit}, 0.0)"
        )
        den_terms.append(
            f"CASE WHEN {lag} IS NOT NULL THEN {lit} ELSE 0.0 END"
        )
    num = " + ".join(lag_terms)
    den = " + ".join(den_terms)
    return f"""
    WITH seq AS (
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    w AS (
        SELECT o_custkey, o_orderkey, order_date, cents,
               {num} AS num,
               {den} AS den
        FROM seq
        WINDOW win AS (PARTITION BY o_custkey
                       ORDER BY order_date, o_orderkey)
    )
    SELECT o_custkey, o_orderkey, order_date,
           ROUND(cents / 100.0, 2) AS revenue,
           ROUND(num / den / 100.0, 6) AS ewma_revenue
    FROM w
    """


# ---------------------------------------------------------------------------
# Tukey-fence outliers per order priority (r8)
# ---------------------------------------------------------------------------
# The classical-quartile companion to events_value_mad_outliers
# (robust-center family): per-group Q1/Q3 as EXACT order statistics
# at integer ranks ceil(n/4) = (n+3) DIV 4 and ceil(3n/4) =
# (3n+3) DIV 4 -- never a builtin percentile_disc, whose rank
# convention differs between engines for n = 3 (mod 4), and never
# float q*n, whose ceil can flip at an ULP (the r6 hazard class).
# The 1.5-IQR fences are kept in DOUBLED cents so they stay integer:
# cents < Q1 - 1.5*IQR  <=>  2*cents < 5*Q1 - 3*Q3.  Per-group order
# statistics come from a grouped prefix_scan, so no group ever sits
# on a single task; outlier share is integer micro-units.
TUKEY_GROUP = "o_orderpriority"


@query(
    "dq_tukey_fence_outliers",
    oracle=f"""
    WITH base AS (
        SELECT {TUKEY_GROUP} AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    ranked AS (
        SELECT grp, cents,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cents)
                   AS rn,
               CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
        FROM base
    ),
    quart AS (
        SELECT grp, MAX(n) AS n,
               MAX(CASE WHEN rn = (n + 3) // 4 THEN cents END)
                   AS q1_cents,
               MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END)
                   AS q3_cents
        FROM ranked GROUP BY grp
    )
    SELECT q.grp AS {TUKEY_GROUP}, q.n, q.q1_cents, q.q3_cents,
           q.q3_cents - q.q1_cents AS iqr_cents,
           CAST(SUM(CASE WHEN 2 * b.cents <
                              5 * q.q1_cents - 3 * q.q3_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN 2 * b.cents >
                              5 * q.q3_cents - 3 * q.q1_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(SUM(CASE WHEN 2 * b.cents <
                              5 * q.q1_cents - 3 * q.q3_cents
                           OR 2 * b.cents >
                              5 * q.q3_cents - 3 * q.q1_cents
                         THEN 1 ELSE 0 END) * 1000000 // MAX(q.n)
                AS BIGINT) AS outlier_ppm
    FROM quart q JOIN base b ON b.grp = q.grp
    GROUP BY q.grp, q.n, q.q1_cents, q.q3_cents
    """,
)
def dq_tukey_fence_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col(TUKEY_GROUP).alias("grp"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    ranked = prefix_scan(
        base,
        F.floor(F.col("cents") / 1_000_000),
        [F.col("cents").asc()],
        [(F.lit(1), "rn")],
        groups=["grp"],
    )
    counts = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n")
    )
    targets = counts.select(
        "grp",
        "n",
        F.expr("(n + 3) DIV 4").alias("q1_rank"),
        F.expr("(3 * n + 3) DIV 4").alias("q3_rank"),
    )
    quart = (
        ranked.join(F.broadcast(targets), "grp")
        .filter(
            (F.col("rn") == F.col("q1_rank"))
            | (F.col("rn") == F.col("q3_rank"))
        )
        .groupBy("grp", "n")
        .agg(
            F.max(
                F.when(F.col("rn") == F.col("q1_rank"), F.col("cents"))
            ).alias("q1_cents"),
            F.max(
                F.when(F.col("rn") == F.col("q3_rank"), F.col("cents"))
            ).alias("q3_cents"),
        )
    )
    lo2 = 5 * F.col("q1_cents") - 3 * F.col("q3_cents")
    hi2 = 5 * F.col("q3_cents") - 3 * F.col("q1_cents")
    return (
        base.join(F.broadcast(quart), "grp")
        .groupBy("grp", "n", "q1_cents", "q3_cents")
        .agg(
            F.sum((2 * F.col("cents") < lo2).cast("int"))
            .cast("long")
            .alias("n_low"),
            F.sum((2 * F.col("cents") > hi2).cast("int"))
            .cast("long")
            .alias("n_high"),
            F.sum(
                (
                    (2 * F.col("cents") < lo2)
                    | (2 * F.col("cents") > hi2)
                ).cast("int")
            ).alias("_n_out"),
        )
        .select(
            F.col("grp").alias(TUKEY_GROUP),
            "n",
            "q1_cents",
            "q3_cents",
            (F.col("q3_cents") - F.col("q1_cents")).alias("iqr_cents"),
            "n_low",
            "n_high",
            F.expr("CAST(_n_out * 1000000 DIV n AS BIGINT)").alias(
                "outlier_ppm"
            ),
        )
    )


@query("window_ewma_customer_revenue", oracle=_ewma_oracle())
def window_ewma_customer_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # r14 (guide par.2.5 flavor): the 8-lag window is CPU-dense but
    # byte-small, so AQE's byte-based coalescing ran it on 3 tasks at
    # sf0.1; fan_out_scan pins the per-customer shuffle to core
    # count ONLY when the feeding scan is split-starved (no-op, and
    # AQE stays in charge, at production split counts).
    seq = fan_out_scan(
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        ),
        "o_custkey",
    )
    win = Window.partitionBy("o_custkey").orderBy(
        "order_date", "o_orderkey"
    )
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k, wk in enumerate(_ewma_weights()):
        lag = (
            F.col("cents")
            if k == 0
            else F.lag("cents", k).over(win)
        )
        num = num + F.coalesce(
            lag.cast("double") * F.lit(wk), F.lit(0.0)
        )
        den = den + F.when(lag.isNotNull(), F.lit(wk)).otherwise(0.0)
    return seq.select(
        "o_custkey",
        "o_orderkey",
        "order_date",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(num / den / 100.0, 6).alias("ewma_revenue"),
    )


# ---------------------------------------------------------------------------
# Price elasticity of demand (log-log regression)
# ---------------------------------------------------------------------------
# The econometrics classic: elasticity = d ln(quantity) / d ln(unit
# price), estimated by OLS of ln q on ln p over lineitem.  Exactness
# discipline: both logs are FLOOR-quantized to integer micro-nats
# (the NB trick), so every regression moment is an exact
# DECIMAL(38,0) integer sum in any aggregation order and the slope
# is one fixed double expression; the 1e-6-nat quantization bias
# sits far below the 6-decimal output quantum.  Unit price is the
# exact integer cent ratio round(100 * extendedprice / quantity).
# 100 TB shape: one projection scan + one 1-row moment aggregate.
@query(
    "orders_price_elasticity",
    oracle="""
    WITH pts AS (
        SELECT CAST(FLOOR(1000000 * ln(CAST(l_quantity AS DOUBLE)))
                    AS BIGINT) AS lq,
               CAST(FLOOR(1000000 * ln(
                   CAST(ROUND(100 * l_extendedprice / l_quantity)
                        AS BIGINT))) AS BIGINT) AS lp
        FROM lineitem WHERE l_quantity > 0
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(lp) AS BIGINT) AS sx,
               CAST(SUM(lq) AS BIGINT) AS sy,
               CAST(SUM(CAST(lp AS DECIMAL(38,0))
                        * CAST(lp AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(lp AS DECIMAL(38,0))
                        * CAST(lq AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(lq AS DECIMAL(38,0))
                        * CAST(lq AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS syy
        FROM pts
    )
    SELECT n AS n_lineitems,
           ROUND((n * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * sy)
                 / (n * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * sx), 6) AS elasticity,
           ROUND(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                  * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy))
                 / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (n * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * sy)), 6) AS r_squared
    FROM s
    """,
)
def orders_price_elasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 0
    )
    unit_cents = F.round(
        100 * F.col("l_extendedprice") / F.col("l_quantity")
    ).cast("long")
    pts = li.select(
        F.floor(
            1000000 * F.log(F.col("l_quantity").cast("double"))
        )
        .cast("long")
        .alias("lq"),
        F.floor(1000000 * F.log(unit_cents.cast("double")))
        .cast("long")
        .alias("lp"),
    )
    s = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lp").cast("long").alias("sx"),
        F.sum("lq").cast("long").alias("sy"),
        F.sum(
            F.col("lp").cast("decimal(38,0)")
            * F.col("lp").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(
            F.col("lp").cast("decimal(38,0)")
            * F.col("lq").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(
            F.col("lq").cast("decimal(38,0)")
            * F.col("lq").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    n = F.col("n")
    cov = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    varx = n * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    vary = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    return s.select(
        n.alias("n_lineitems"),
        F.round(cov / varx, 6).alias("elasticity"),
        F.round(cov * cov / (varx * vary), 6).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# XYZ demand-variability classification (pairs with ABC)
# ---------------------------------------------------------------------------
# Inventory analytics' second axis: classify each part by the
# coefficient of variation of its monthly demand -- X (stable,
# CV < 0.5), Y (variable, CV < 1.0), Z (erratic).  Monthly demand is
# exact integer quantity over the ZERO-FILLED month grid (a month
# with no sales is 0 demand, not a missing row -- omitting it
# understates variability); CV per part is one fixed double
# expression over three exact integer moments.  Output is the class
# distribution with per-class demand stats.  100 TB shape: one
# grouped agg to (part, month), a broadcast month-grid fill via a
# part x months cross of the DISTINCT part dim, one moment agg per
# part, one class agg.
@query(
    "orders_xyz_analysis",
    oracle="""
    WITH months AS (
        SELECT DISTINCT CAST(date_trunc('month',
                   CAST(l_shipdate AS DATE)) AS DATE) AS mo
        FROM lineitem
    ),
    parts AS (SELECT DISTINCT l_partkey FROM lineitem),
    demand AS (
        SELECT l_partkey,
               CAST(date_trunc('month', CAST(l_shipdate AS DATE))
                    AS DATE) AS mo,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    grid AS (
        SELECT p.l_partkey, m.mo, COALESCE(d.q, 0) AS q
        FROM parts p CROSS JOIN months m
        LEFT JOIN demand d
               ON d.l_partkey = p.l_partkey AND d.mo = m.mo
    ),
    cv AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS s,
               CAST(SUM(q * q) AS BIGINT) AS ss
        FROM grid GROUP BY l_partkey
    ),
    classed AS (
        SELECT l_partkey, s,
               SQRT((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                    / (n - 1)) / (CAST(s AS DOUBLE) / n) AS cv
        FROM cv WHERE s > 0
    )
    SELECT CASE WHEN cv < 0.5 THEN 'X'
                WHEN cv < 1.0 THEN 'Y'
                ELSE 'Z' END AS xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(s) AS BIGINT) AS total_demand,
           ROUND(MIN(cv), 6) AS min_cv,
           ROUND(MAX(cv), 6) AS max_cv
    FROM classed GROUP BY 1
    """,
)
def orders_xyz_analysis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    mo = F.to_date(F.date_trunc("month", F.col("l_shipdate")))
    months = li.select(mo.alias("mo")).distinct()
    parts = li.select("l_partkey").distinct()
    demand = li.groupBy("l_partkey", mo.alias("mo")).agg(
        F.sum(F.col("l_quantity").cast("long"))
        .cast("long")
        .alias("q")
    )
    grid = (
        parts.crossJoin(F.broadcast(months))
        .join(demand, ["l_partkey", "mo"], "left")
        .select(
            "l_partkey", F.coalesce("q", F.lit(0)).alias("q")
        )
    )
    cv = grid.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("ss"),
    )
    cv_expr = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("n") - 1)
    ) / (F.col("s").cast("double") / F.col("n"))
    classed = cv.filter(F.col("s") > 0).select(
        "s", cv_expr.alias("cv")
    )
    return (
        classed.select(
            F.when(F.col("cv") < 0.5, "X")
            .when(F.col("cv") < 1.0, "Y")
            .otherwise("Z")
            .alias("xyz_class"),
            "s",
            "cv",
        )
        .groupBy("xyz_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("s").cast("long").alias("total_demand"),
            F.round(F.min("cv"), 6).alias("min_cv"),
            F.round(F.max("cv"), 6).alias("max_cv"),
        )
    )


# ---------------------------------------------------------------------------
# Geospatial family: grid cells + blocked haversine pairs
# ---------------------------------------------------------------------------
# The warehouse geo basics on hash-derived user coordinates (the
# fixture has no native geography; lat/lon come from the same
# seeded-md5 uniform machinery as the bootstrap/permutation ops, so
# the *operators* -- grid bucketing, blocked distance joins, the
# haversine expression -- are exactly the production shapes).
# Coordinates: lat = u1/65535*180-90, lon = u2/65535*360-180 with
# u1/u2 = 16-bit md5 fields salted 'lat'/'lon' -- exact integers in,
# identical doubles out in both engines.
GEO_CELL_DEG = 15  # grid cell size in degrees
GEO_EARTH_KM = 6371.0


def _geo_u_sql(salt: str) -> str:
    c = (
        f"CAST(concat('0x', substr(md5(concat('{salt}',"
        f" CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT)"
    )
    return f"({c} >> 16)"


_GEO_COORDS_SQL = f"""
    coords AS (
        SELECT user_id,
               {_geo_u_sql("lat")} / 65535.0 * 180 - 90 AS lat,
               {_geo_u_sql("lon")} / 65535.0 * 360 - 180 AS lon
        FROM (SELECT DISTINCT user_id FROM events)
    )
"""


def _geo_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    users = events.select("user_id").distinct()

    def u(salt: str):
        return F.shiftright(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(salt),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            16,
        )

    return users.select(
        "user_id",
        (u("lat") / 65535.0 * 180 - 90).alias("lat"),
        (u("lon") / 65535.0 * 360 - 180).alias("lon"),
    )


@query(
    "geo_grid_cells",
    oracle=f"""
    WITH {_GEO_COORDS_SQL},
    act AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT CAST(FLOOR(lat / {GEO_CELL_DEG}) AS BIGINT) AS cell_lat,
           CAST(FLOOR(lon / {GEO_CELL_DEG}) AS BIGINT) AS cell_lon,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           ROUND(AVG(lat), 6) AS centroid_lat,
           ROUND(AVG(lon), 6) AS centroid_lon
    FROM coords JOIN act USING (user_id)
    GROUP BY 1, 2
    """,
)
def geo_grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    coords = _geo_coords(spark, sf_dir)
    act = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    return (
        coords.join(act, "user_id")
        .groupBy(
            F.floor(F.col("lat") / GEO_CELL_DEG)
            .cast("long")
            .alias("cell_lat"),
            F.floor(F.col("lon") / GEO_CELL_DEG)
            .cast("long")
            .alias("cell_lon"),
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.avg("lat"), 6).alias("centroid_lat"),
            F.round(F.avg("lon"), 6).alias("centroid_lon"),
        )
    )


GEO_TOPK_PAIRS = 20


@query(
    "geo_haversine_pairs",
    oracle=f"""
    WITH {_GEO_COORDS_SQL},
    cells AS (
        SELECT user_id, lat, lon,
               CAST(FLOOR(lat / {GEO_CELL_DEG}) AS BIGINT) AS cla,
               CAST(FLOOR(lon / {GEO_CELL_DEG}) AS BIGINT) AS clo
        FROM coords
    ),
    pairs AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               2 * {GEO_EARTH_KM} * ASIN(SQRT(
                   POWER(SIN(RADIANS(b.lat - a.lat) / 2), 2)
                   + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
                     * POWER(SIN(RADIANS(b.lon - a.lon) / 2), 2)))
                   AS dist_km
        FROM cells a JOIN cells b
          ON a.cla = b.cla AND a.clo = b.clo
         AND a.user_id < b.user_id
    )
    SELECT user_a, user_b, ROUND(dist_km, 4) AS dist_km
    FROM pairs
    ORDER BY dist_km, user_a, user_b
    LIMIT {GEO_TOPK_PAIRS}
    """,
)
def geo_haversine_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closest same-cell user pairs by haversine distance.  The
    equi-join on the grid cell is the blocking step -- candidate
    pairs are bounded by cell occupancy, never all-pairs (the
    standard spatial-join shape; production adds neighbor-cell
    probes exactly like the LSH band joins)."""
    coords = _geo_coords(spark, sf_dir)
    cells = coords.select(
        "user_id",
        "lat",
        "lon",
        F.floor(F.col("lat") / GEO_CELL_DEG)
        .cast("long")
        .alias("cla"),
        F.floor(F.col("lon") / GEO_CELL_DEG)
        .cast("long")
        .alias("clo"),
    )
    a = cells.select(
        F.col("user_id").alias("user_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        "cla",
        "clo",
    )
    b = cells.select(
        F.col("user_id").alias("user_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        "cla",
        "clo",
    )
    dist = (
        2
        * GEO_EARTH_KM
        * F.asin(
            F.sqrt(
                F.pow(
                    F.sin(
                        F.radians(F.col("lat_b") - F.col("lat_a"))
                        / 2
                    ),
                    2,
                )
                + F.cos(F.radians("lat_a"))
                * F.cos(F.radians("lat_b"))
                * F.pow(
                    F.sin(
                        F.radians(F.col("lon_b") - F.col("lon_a"))
                        / 2
                    ),
                    2,
                )
            )
        )
    )
    pairs = (
        a.join(b, ["cla", "clo"])
        .filter(F.col("user_a") < F.col("user_b"))
        .select("user_a", "user_b", dist.alias("dist_km"))
    )
    return (
        pairs.orderBy("dist_km", "user_a", "user_b")
        .limit(GEO_TOPK_PAIRS)
        .select(
            "user_a",
            "user_b",
            F.round("dist_km", 4).alias("dist_km"),
        )
    )


# ---------------------------------------------------------------------------
# Next-event prediction eval (Markov argmax baseline)
# ---------------------------------------------------------------------------
# The sequence-model evaluation harness on top of events_transition_
# matrix: learn P(next_type | current_type) on TRAIN users (md5
# split, the split_train_holdout convention), predict the argmax
# next type (ties -> lexicographic), and score accuracy on the
# held-out users' transitions against the majority-class baseline
# every sequence model must beat.  Transition extraction is one
# per-user ordered window; training counts, argmax, and both
# accuracies are exact integers -- the accuracy ratio is the only
# double.
@query(
    "events_markov_next_event_eval",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                        < 'c' THEN 'train' ELSE 'test' END AS split,
               LEAD(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    tr AS (
        SELECT event_type AS cur, next_type AS nxt,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE split = 'train' AND next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT cur,
               MIN(CASE WHEN c = mx THEN nxt END) AS predicted
        FROM (SELECT cur, nxt, c,
                     MAX(c) OVER (PARTITION BY cur) AS mx
              FROM tr)
        GROUP BY cur
    ),
    base AS (
        SELECT MIN(CASE WHEN c = mx THEN nxt END) AS majority
        FROM (SELECT nxt, CAST(SUM(c) AS BIGINT) AS c,
                     MAX(SUM(c)) OVER () AS mx
              FROM tr GROUP BY nxt)
    ),
    test AS (
        SELECT event_type AS cur, next_type AS nxt
        FROM seq WHERE split = 'test' AND next_type IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test_transitions,
           CAST(SUM(CASE WHEN test.nxt = pred.predicted
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct_markov,
           CAST(SUM(CASE WHEN test.nxt = base.majority
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct_majority,
           ROUND(CAST(SUM(CASE WHEN test.nxt = pred.predicted
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS acc_markov,
           ROUND(CAST(SUM(CASE WHEN test.nxt = base.majority
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS acc_majority
    FROM test
    LEFT JOIN pred ON pred.cur = test.cur
    CROSS JOIN base
    """,
)
def events_markov_next_event_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
            < "c",
            "train",
        )
        .otherwise("test")
        .alias("split"),
        F.lead("event_type").over(w).alias("next_type"),
    )
    tr = (
        seq.filter(
            (F.col("split") == "train")
            & F.col("next_type").isNotNull()
        )
        .groupBy(
            F.col("event_type").alias("cur"),
            F.col("next_type").alias("nxt"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .cache()
    )
    wmax = Window.partitionBy("cur")
    pred = (
        tr.withColumn("mx", F.max("c").over(wmax))
        .groupBy("cur")
        .agg(
            F.min(
                F.when(F.col("c") == F.col("mx"), F.col("nxt"))
            ).alias("predicted")
        )
    )
    totals = tr.groupBy("nxt").agg(F.sum("c").alias("c"))
    wall = Window.partitionBy()
    base = (
        totals.withColumn("mx", F.max("c").over(wall))
        .agg(
            F.min(
                F.when(F.col("c") == F.col("mx"), F.col("nxt"))
            ).alias("majority")
        )
    )
    test = seq.filter(
        (F.col("split") == "test") & F.col("next_type").isNotNull()
    ).select(
        F.col("event_type").alias("cur"),
        F.col("next_type").alias("nxt"),
    )
    joined = test.join(F.broadcast(pred), "cur", "left").crossJoin(
        F.broadcast(base)
    )
    hit_m = (F.col("nxt") == F.col("predicted")).cast("int")
    hit_b = (F.col("nxt") == F.col("majority")).cast("int")
    return joined.agg(
        F.count("*").cast("long").alias("n_test_transitions"),
        F.sum(hit_m).cast("long").alias("n_correct_markov"),
        F.sum(hit_b).cast("long").alias("n_correct_majority"),
        F.round(
            F.sum(hit_m).cast("double") / F.count("*"), 6
        ).alias("acc_markov"),
        F.round(
            F.sum(hit_b).cast("double") / F.count("*"), 6
        ).alias("acc_majority"),
    )


# ---------------------------------------------------------------------------
# Customer segment migration matrix (year-over-year terciles)
# ---------------------------------------------------------------------------
# The lifecycle view behind "are my best customers staying": segment
# every customer into revenue terciles PER YEAR (low/mid/high by
# exact order-statistic boundaries -- the winsorize idiom partitioned
# by year, no interpolating percentile), then count transitions
# between consecutive years.  All boundaries, segments, and
# transition counts are exact integers.  100 TB shape: one grouped
# agg to (year, customer), per-(year, revenue-band) two-pass prefix
# sums (a grouped prefix_scan -- annual revenues are near-unique,
# so a bare per-year window would be one task per year), one LAG
# window per customer.
@query(
    "orders_segment_migration",
    oracle="""
    WITH cy AS (
        SELECT o_custkey, year(o_orderdate) AS yr,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1, 2
    ),
    nn AS (
        SELECT yr, CAST(COUNT(*) AS BIGINT) AS n FROM cy GROUP BY yr
    ),
    byval AS (
        SELECT yr, rev, CAST(COUNT(*) AS BIGINT) AS t
        FROM cy GROUP BY yr, rev
    ),
    ranked AS (
        SELECT yr, rev,
               CAST(SUM(t) OVER (PARTITION BY yr ORDER BY rev
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM byval
    ),
    bounds AS (
        SELECT ranked.yr,
               MIN(CASE WHEN cum >= CEIL(nn.n / 3.0)
                        THEN rev END) AS b1,
               MIN(CASE WHEN cum >= CEIL(2.0 * nn.n / 3.0)
                        THEN rev END) AS b2
        FROM ranked JOIN nn ON nn.yr = ranked.yr
        GROUP BY ranked.yr
    ),
    seg AS (
        SELECT cy.o_custkey, cy.yr,
               CASE WHEN cy.rev <= b.b1 THEN 'low'
                    WHEN cy.rev <= b.b2 THEN 'mid'
                    ELSE 'high' END AS segment
        FROM cy JOIN bounds b ON b.yr = cy.yr
    ),
    trans AS (
        SELECT segment AS seg_from,
               LEAD(segment) OVER (PARTITION BY o_custkey
                                   ORDER BY yr) AS seg_to,
               LEAD(yr) OVER (PARTITION BY o_custkey
                              ORDER BY yr) - yr AS dy
        FROM seg
    )
    SELECT seg_from, seg_to, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM trans WHERE seg_to IS NOT NULL AND dy = 1
    GROUP BY 1, 2
    """,
)
def orders_segment_migration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cy = orders.groupBy(
        "o_custkey", F.year("o_orderdate").alias("yr")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    nn = cy.groupBy("yr").agg(F.count("*").cast("long").alias("n"))
    byval = cy.groupBy("yr", "rev").agg(
        F.count("*").cast("long").alias("t")
    )
    # per-year tercile boundaries: annual per-customer revenue is
    # near-unique, so a year-partitioned window is one task per
    # |years| -- the grouped two-pass cumsum shuffles on (year, $21k
    # revenue band) instead (r11)
    ranked = prefix_scan(
        byval,
        F.floor(F.col("rev") / F.lit(1 << 21)),
        ["rev"],
        [("t", "cum")],
        groups=["yr"],
    ).select("yr", "rev", "cum")
    bounds = (
        ranked.join(nn, "yr")
        .groupBy("yr")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.col("n") / 3.0),
                    F.col("rev"),
                )
            ).alias("b1"),
            F.min(
                F.when(
                    F.col("cum")
                    >= F.ceil(2.0 * F.col("n") / 3.0),
                    F.col("rev"),
                )
            ).alias("b2"),
        )
    )
    seg = cy.join(F.broadcast(bounds), "yr").select(
        "o_custkey",
        "yr",
        F.when(F.col("rev") <= F.col("b1"), "low")
        .when(F.col("rev") <= F.col("b2"), "mid")
        .otherwise("high")
        .alias("segment"),
    )
    wl = Window.partitionBy("o_custkey").orderBy("yr")
    trans = seg.select(
        F.col("segment").alias("seg_from"),
        F.lead("segment").over(wl).alias("seg_to"),
        (F.lead("yr").over(wl) - F.col("yr")).alias("dy"),
    )
    return (
        trans.filter(
            F.col("seg_to").isNotNull() & (F.col("dy") == 1)
        )
        .groupBy("seg_from", "seg_to")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )
