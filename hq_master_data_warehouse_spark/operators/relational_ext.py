"""Extended relational operators Spark lacks as single primitives:
as-of join, range join, pivot/unpivot, percentile aggregates
(SURVEY.md par.2.3 "not present in the reference" note + north-star
custom-operator requirement).

Each is built as a composition of existing DataFrame ops -- option (a)
of the custom-operator ladder (composition > pandas-UDF > RDD) -- so
the whole family stays inside Catalyst/codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.prefix import prefix_scan
from ..registry import query
from ..session import local_df
from ..sources.loaders import load_table


# -- AS-OF JOIN: for each event, the latest order of the same key at
#    or before the event time.  The distributed pattern is union-tag +
#    partitioned window (one shuffle on the key, no per-row probing):
#    sort (key, time, side) and carry the last seen order forward.
#    Orders are pre-reduced to one row per (key, time) so the match is
#    unique and deterministic in both engines.
@query(
    "asof_join_latest_order",
    oracle="""
    WITH o AS (
        SELECT o_custkey AS k, o_orderdate AS od,
               MAX(o_orderkey) AS o_orderkey,
               MAX(o_totalprice) AS o_totalprice
        FROM orders GROUP BY o_custkey, o_orderdate
    ),
    e AS (
        SELECT event_id, user_id AS k, CAST(ts AS TIMESTAMP) AS ts
        FROM events
    )
    SELECT e.event_id, e.k AS user_id,
           o.o_orderkey AS asof_orderkey,
           o.o_totalprice AS asof_totalprice
    FROM e ASOF LEFT JOIN o ON e.k = o.k AND o.od <= e.ts
    """,
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("t"),
        )
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max("o_totalprice").alias("o_totalprice"),
        )
        .select("k", "t", F.lit(1).alias("is_order"), "o_orderkey",
                "o_totalprice", F.lit(None).cast("long").alias("event_id"))
    )
    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("k"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        "event_id",
    )
    # order rows sort before event rows at equal timestamps (<= match)
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("is_order").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = orders.unionByName(events).select(
        "k",
        "is_order",
        "event_id",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("o_totalprice", ignorenulls=True)
        .over(w)
        .alias("asof_totalprice"),
    )
    return merged.filter(F.col("is_order") == 0).select(
        "event_id",
        F.col("k").alias("user_id"),
        "asof_orderkey",
        "asof_totalprice",
    )


# -- RANGE JOIN: fact rows matched to interval buckets.  The band dim
#    is broadcast, so the inequality join is a broadcast nested-loop
#    over a handful of bands -- linear in the fact side.  (For large
#    interval tables the scale path is equi-bucketing: join on
#    floor(value/step) then refine; noted here, not needed for a
#    5-row dim.)
_BANDS = [
    ("scrap", 0.0, 10.0),
    ("small", 10.0, 25.0),
    ("medium", 25.0, 40.0),
    ("large", 40.0, 1e9),
]

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT '{n}' AS band, {lo} AS lo, {hi} AS hi" for n, lo, hi in _BANDS
)


@query(
    "range_join_quantity_bands",
    oracle=f"""
    WITH bands AS ({_BANDS_SQL})
    SELECT b.band, COUNT(*) AS cnt,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
               AS sum_price
    FROM lineitem l
    JOIN bands b ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.band
    """,
)
def range_join_quantity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    bands = F.broadcast(
        local_df(spark, _BANDS, "band string, lo double, hi double")
    )
    return (
        lineitem.join(
            bands,
            (lineitem.l_quantity >= bands.lo)
            & (lineitem.l_quantity < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_extendedprice").cast("decimal(30,4)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


# -- PIVOT: segment x region count matrix with an explicit column
#    domain (explicit values keep the plan single-pass and the output
#    schema static -- mandatory at scale, where an implicit pivot
#    triggers a distinct-scan first).
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


@query(
    "pivot_segment_by_region",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           {", ".join(
               'COUNT(*) FILTER (WHERE r.r_name = ' + repr(reg) + ') AS "'
               + reg + '"' for reg in _REGIONS
           )}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY c.c_mktsegment
    """,
)
def pivot_segment_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    joined = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).join(region, nation.n_regionkey == region.r_regionkey)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .pivot("r_name", _REGIONS)
        .count()
        .na.fill(0, _REGIONS)
    )


# -- UNPIVOT (melt): wide measures to long (measure, value) rows.
@query(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
           l_quantity AS value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    ).withColumn("measure", F.regexp_replace("measure", "^l_", ""))


# -- exact percentiles (linear interpolation in both engines).
@query(
    "percentile_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS median_qty,
           CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE) AS p90_qty,
           CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE)
               AS median_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
        F.percentile("l_extendedprice", 0.5).alias("median_price"),
    )


# -- approximate sketches, self-audited (r10 oracle conversion,
#    VERDICT r9 item 4): HLL/GK register layouts and merge orders are
#    engine-specific, so the sketch VALUES can never be oracle
#    columns -- instead the output is the engine-independent part of
#    the contract, the same pattern as sketch_approx_quantiles' GK
#    band.  Per group: the exact distinct count, a boolean asserting
#    the HLL estimate sits inside 3x its configured rsd, the exact
#    lo/hi price-cent values at the GK rank band for q50/q90 (pure
#    integer arithmetic, identical in both engines), and booleans
#    asserting each GK estimate landed inside its own guarantee.
#    DuckDB recomputes counts and bands exactly and emits TRUE, so a
#    sketch outside its error contract turns the row red at the
#    driver.  This is the 100 TB cardinality path -- one pass, fixed
#    memory, mergeable state.
SKETCH_HLL_RSD = 0.05
SKETCH_GK_ACCURACY = 1000
_SK_BAND_DUCK = f"(n + {SKETCH_GK_ACCURACY - 1}) // {SKETCH_GK_ACCURACY} + 1"


@query(
    "agg_approx_sketches",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ), grp AS (
        SELECT l_returnflag, COUNT(*) AS n FROM base GROUP BY 1
    ), ranked AS (
        SELECT l_returnflag, cents,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag ORDER BY cents
               ) AS rn
        FROM base
    ), spec AS (
        SELECT g.l_returnflag, q.q_pct, g.n,
               GREATEST(1, (q.q_pct * g.n + 99) // 100
                           - ({_SK_BAND_DUCK})) AS lo_rank,
               LEAST(g.n, (q.q_pct * g.n + 99) // 100
                          + ({_SK_BAND_DUCK})) AS hi_rank
        FROM grp g, (VALUES (50), (90)) AS q(q_pct)
    ), bands AS (
        SELECT s.l_returnflag, s.q_pct, lo.cents AS lo_c, hi.cents AS hi_c
        FROM spec s
        JOIN ranked lo ON lo.l_returnflag = s.l_returnflag
                      AND lo.rn = s.lo_rank
        JOIN ranked hi ON hi.l_returnflag = s.l_returnflag
                      AND hi.rn = s.hi_rank
    ), piv AS (
        SELECT l_returnflag,
               MAX(lo_c) FILTER (q_pct = 50) AS lo50_cents,
               MAX(hi_c) FILTER (q_pct = 50) AS hi50_cents,
               MAX(lo_c) FILTER (q_pct = 90) AS lo90_cents,
               MAX(hi_c) FILTER (q_pct = 90) AS hi90_cents
        FROM bands GROUP BY 1
    )
    SELECT li.l_returnflag,
           COUNT(DISTINCT li.l_partkey) AS exact_parts,
           TRUE AS hll_in_rse,
           p.lo50_cents, p.hi50_cents, p.lo90_cents, p.hi90_cents,
           TRUE AS q50_in_band,
           TRUE AS q90_in_band
    FROM lineitem li JOIN piv p USING (l_returnflag)
    GROUP BY li.l_returnflag, p.lo50_cents, p.hi50_cents,
             p.lo90_cents, p.hi90_cents
    """,
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.approx_count_distinct(
            "l_partkey", SKETCH_HLL_RSD
        ).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.expr(
            "approx_percentile(cents, array(0.5, 0.9), "
            f"{SKETCH_GK_ACCURACY})"
        ).alias("approx_q"),
    )
    # exact per-flag price ranks WITHOUT a whole-flag-on-one-task
    # window (r11: |returnflags| = 3, so partitionBy(flag) put a
    # third of lineitem through each of 3 tasks): the grouped
    # two-pass rank shuffles on (flag, $2.6k price band).  Ties on
    # cents rank in arbitrary order, but the VALUE at any rank of a
    # sorted multiset is unique, and only values at band-boundary
    # ranks are consumed.
    ranked = prefix_scan(
        li.select("l_returnflag", "cents"),
        F.floor(F.col("cents") / F.lit(1 << 18)),
        ["cents"],
        [(F.lit(1), "rn")],
        groups=["l_returnflag"],
    )
    band = (F.col("n") + (SKETCH_GK_ACCURACY - 1)) / F.lit(
        SKETCH_GK_ACCURACY
    )
    band = F.floor(band) + 1

    def rank_col(q_pct: int, which: str):
        target = F.ceil(F.col("n") * q_pct / 100)
        if which == "lo":
            return F.greatest(F.lit(1), target - band)
        return F.least(F.col("n"), target + band)

    # ONE probe join instead of four (r11 follow-up): the four
    # boundary ranks unpivot into a 4-rows-per-flag broadcast table
    # probed against ONE evaluation of `ranked` -- Spark does not
    # common-subexpression-share join subtrees, so four separate
    # rank-equality joins re-executed the whole two-pass rank four
    # times (measured 3.6 s warm -> 3.0 s at sf0.1; the residual is
    # the sketch aggregation itself, which is the point of the query).
    targets = agg.select(
        "l_returnflag",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"{which}{q_pct}").alias("slot"),
                        rank_col(q_pct, which)
                        .cast("long")
                        .alias("target_rn"),
                    )
                    for q_pct in (50, 90)
                    for which in ("lo", "hi")
                ]
            )
        ).alias("t"),
    ).select("l_returnflag", "t.slot", "t.target_rn")
    fetched = ranked.join(
        F.broadcast(targets),
        ["l_returnflag"],
    ).filter(F.col("rn") == F.col("target_rn"))

    def slot(name: str):
        return F.max(
            F.when(F.col("slot") == name, F.col("cents"))
        ).alias(f"{name}_cents")

    piv = fetched.groupBy("l_returnflag").agg(
        slot("lo50"), slot("hi50"), slot("lo90"), slot("hi90")
    )
    out = agg.join(F.broadcast(piv), "l_returnflag")
    return out.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 3 * SKETCH_HLL_RSD * F.col("exact_parts")
        ).alias("hll_in_rse"),
        "lo50_cents",
        "hi50_cents",
        "lo90_cents",
        "hi90_cents",
        F.col("approx_q")[0]
        .between(F.col("lo50_cents"), F.col("hi50_cents"))
        .alias("q50_in_band"),
        F.col("approx_q")[1]
        .between(F.col("lo90_cents"), F.col("hi90_cents"))
        .alias("q90_in_band"),
    )


# -- higher-order array-function surface (engine surface): the JVM
#    lambda toolkit (transform/filter/exists/aggregate/slice/sort)
#    that keeps vector math out of Python UDFs.  Elements round to 6
#    so the float->double widening hashes identically cross-engine.
@query(
    "array_functions_showcase",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           -- array outputs are string-encoded (list cells crash the
           -- gate's canonicalizer) as fixed-scale DECIMAL(18,6)
           -- strings so both engines format '1.500000' identically
           array_to_string(list_transform(embedding[1:3],
               x -> CAST(CAST(ROUND(CAST(x AS DOUBLE) * 2, 6)
                         AS DECIMAL(18,6)) AS VARCHAR)), ',')
               AS first3_doubled,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           CAST(list_max(list_transform(embedding,
                x -> CAST(x AS DOUBLE))) >= 2.0 AS BOOLEAN)
               AS has_large,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE))), 6) AS elem_sum,
           array_to_string(list_transform(
               list_reverse(list_sort(list_transform(
                   embedding, x -> CAST(x AS DOUBLE))))[1:3],
               x -> CAST(CAST(ROUND(x, 6) AS DECIMAL(18,6))
                         AS VARCHAR)), ',') AS top3
    FROM embeddings
    """,
)
def array_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_join(
            F.transform(
                F.slice(F.col("embedding"), 1, 3),
                lambda x: F.round(x.cast("double") * 2, 6)
                .cast("decimal(18,6)")
                .cast("string"),
            ),
            ",",
        ).alias("first3_doubled"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias(
            "n_positive"
        ),
        F.exists(dbl, lambda x: x >= 2.0).alias("has_large"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("elem_sum"),
        F.array_join(
            F.transform(
                F.slice(F.reverse(F.array_sort(dbl)), 1, 3),
                lambda x: F.round(x, 6)
                .cast("decimal(18,6)")
                .cast("string"),
            ),
            ",",
        ).alias("top3"),
    )


# -- time-series resample + gap fill (engine surface): regularize an
#    event stream onto a fixed 15-minute grid per series, empty
#    buckets filled with zero.  The grid is sequence+explode from the
#    global bounds (two tiny rows), cross-joined with the distinct
#    series keys (broadcast) -- the fact table is touched once.
@query(
    "events_resample_gap_fill",
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    ),
    bounds AS (
        SELECT time_bucket(INTERVAL '15 minutes', min(ts)) AS lo,
               time_bucket(INTERVAL '15 minutes', max(ts)) AS hi
        FROM e
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL '15 minutes'))
            AS bucket
        FROM bounds
    ),
    series AS (
        SELECT bucket, event_type
        FROM grid CROSS JOIN (SELECT DISTINCT event_type FROM e)
    ),
    actual AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket,
               event_type, COUNT(*) AS n
        FROM e GROUP BY 1, 2
    )
    SELECT s.bucket, s.event_type,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS cnt
    FROM series s LEFT JOIN actual a
      ON s.bucket = a.bucket AND s.event_type = a.event_type
    """,
)
def events_resample_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_type"
    )
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / 900) * 900
    )
    bounds = events.agg(
        F.min(bucket).alias("lo"), F.max(bucket).alias("hi")
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 15 MINUTES"))
        ).alias("bucket")
    )
    types = events.select("event_type").distinct()
    series = grid.crossJoin(F.broadcast(types))
    actual = events.groupBy(
        bucket.alias("bucket"), "event_type"
    ).agg(F.count("*").alias("n"))
    return (
        series.join(actual, ["bucket", "event_type"], "left")
        .select(
            "bucket",
            "event_type",
            F.coalesce("n", F.lit(0)).cast("long").alias("cnt"),
        )
    )


# -- funnel conversion (engine surface): per-user ordered-step
#    analysis -- did a 'view' happen, and did a 'purchase' follow it?
#    One pass: min event time per step per user, step order enforced
#    by timestamp comparison (no self-join; conditional aggregation).
@query(
    "events_funnel_conversion",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'
                        THEN CAST(ts AS TIMESTAMP) END) AS first_view,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS TIMESTAMP) END) AS first_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           -- CAST: DuckDB SUM(INTEGER) -> HUGEINT -> pandas float64
           CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_viewed,
           CAST(SUM(CASE WHEN first_view IS NOT NULL
                     AND first_purchase > first_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM per_user
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(
            F.when(F.col("first_view").isNotNull(), 1).otherwise(0)
        ).alias("n_viewed"),
        F.sum(
            F.when(
                F.col("first_view").isNotNull()
                & (F.col("first_purchase") > F.col("first_view")),
                1,
            ).otherwise(0)
        ).alias("n_converted"),
    )


# -- user-journey path extraction (engine surface): the ordered
#    per-entity event sequence -- the shape behind session replay,
#    behavioral features, and next-event training examples.
#    collect_list gives NO ordering guarantee in a distributed run,
#    so the sequence is made deterministic by sorting the collected
#    (ts, event_id, event_type) structs (struct comparison is
#    field-order lexicographic = ORDER BY ts, event_id) AFTER the
#    one groupBy shuffle.  At 100 TB per-user sequences are bounded
#    (KBs); a whale user would need windowed chunking first.
@query(
    "events_user_journey",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           string_agg(event_type, '->' ORDER BY ts, event_id)
               AS journey
    FROM events
    GROUP BY user_id
    """,
)
def events_user_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    seq = F.sort_array(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.array_join(
            F.transform(seq, lambda s: s["event_type"]), "->"
        ).alias("journey"),
    )


# -- per-group exact percentiles: the grouped twin of
#    percentile_stats (global).  Interpolated percentile over doubles
#    is consistent cross-engine (established by percentile_stats on
#    l_extendedprice); the aggregate is one shuffle on the group key
#    with partial sort inside each group only -- at 100 TB swap in
#    approx_percentile and keep the identical plan shape.
@query(
    "agg_group_percentiles",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(quantile_cont(c_acctbal, 0.5), 6) AS median_bal,
           ROUND(quantile_cont(c_acctbal, 0.9), 6) AS p90_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("c_acctbal", 0.5), 6).alias("median_bal"),
        F.round(F.percentile("c_acctbal", 0.9), 6).alias("p90_bal"),
    )


# -- business-day lead time: calendar arithmetic Spark and SQL both
#    lack as a primitive (NETWORKDAYS in spreadsheets).  Weekday
#    count in [epoch, d) has the closed form
#        B(j) = 5 * floor(j/7) + least(j mod 7, 5)
#    with j = days since a fixed MONDAY epoch (1992-01-06), so the
#    lead time between two dates is B(j_ship) - B(j_order) -- pure
#    integer expressions, no calendar table, no per-day explode (the
#    naive approach explodes one row per elapsed day: 100x row
#    amplification on month-long leads).  One equi-join
#    lineitem->orders on the order key and one bounded groupBy on the
#    lead-time domain (~40 values).
@query(
    "datetime_business_days",
    oracle="""
    WITH j AS (
        SELECT date_diff('day', DATE '1992-01-06',
                         CAST(o.o_orderdate AS DATE)) AS j0,
               date_diff('day', DATE '1992-01-06',
                         CAST(l.l_shipdate AS DATE)) AS j1
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT (CAST(FLOOR(j1 / 7) AS BIGINT) * 5 + LEAST(j1 % 7, 5))
           - (CAST(FLOOR(j0 / 7) AS BIGINT) * 5 + LEAST(j0 % 7, 5))
               AS business_days,
           COUNT(*) AS n_lineitems
    FROM j
    GROUP BY business_days
    """,
)
def datetime_business_days(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    j = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-06"))
        .cast("long")
        .alias("j0"),
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-06"))
        .cast("long")
        .alias("j1"),
    )

    def bdays(col: F.Column) -> F.Column:
        return F.floor(col / 7).cast("long") * 5 + F.least(
            F.pmod(col, 7), F.lit(5).cast("long")
        )

    return (
        j.select(
            (bdays(F.col("j1")) - bdays(F.col("j0"))).alias(
                "business_days"
            )
        )
        .groupBy("business_days")
        .agg(F.count("*").alias("n_lineitems"))
    )


# ---------------------------------------------------------------------------
# As-of join with a staleness tolerance (merge_asof tolerance)
# ---------------------------------------------------------------------------
# The bounded-staleness variant of asof_join_latest_order, matching
# pandas merge_asof(tolerance=...): attribute each ERROR event to
# the same user's latest preceding CLICK, but only if the click is
# at most ASOF_TOLERANCE_US old -- older matches become NULL, they
# do not fall back to earlier rows.  Same scale-correct shape as the
# plain as-of: one union + one per-user ordered window (the
# merge-join formulation, no inequality join); the tolerance is a
# post-predicate on the carried match timestamp.  Microsecond deltas
# stay exact BIGINTs.
ASOF_TOLERANCE_US = 3_600_000_000  # 1 hour


@query(
    "asof_join_tolerance",
    oracle=f"""
    WITH c AS (
        SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS cts,
               MAX(event_id) AS click_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, CAST(ts AS TIMESTAMP)
    ),
    e AS (
        SELECT event_id, user_id AS k, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'error'
    ),
    m AS (
        SELECT e.event_id, e.k, e.ts, c.click_id, c.cts
        FROM e ASOF LEFT JOIN c ON e.k = c.k AND c.cts <= e.ts
    )
    SELECT event_id, k AS user_id,
           CASE WHEN cts IS NOT NULL
                 AND date_diff('microseconds', cts, ts)
                     <= {ASOF_TOLERANCE_US}
                THEN click_id END AS asof_click_id,
           CASE WHEN cts IS NOT NULL
                 AND date_diff('microseconds', cts, ts)
                     <= {ASOF_TOLERANCE_US}
                THEN CAST(date_diff('microseconds', cts, ts)
                          AS BIGINT) END AS us_since_click
    FROM m
    """,
)
def asof_join_tolerance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy(
            F.col("user_id").alias("k"), F.col("ts").alias("t")
        )
        .agg(F.max("event_id").alias("click_id"))
        .select(
            "k",
            "t",
            F.lit(1).alias("is_click"),
            "click_id",
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_click"),
        F.lit(None).cast("long").alias("click_id"),
        "event_id",
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(errors).select(
        "k",
        "is_click",
        "event_id",
        "t",
        F.last("click_id", ignorenulls=True)
        .over(w)
        .alias("m_click_id"),
        F.last(
            F.when(F.col("is_click") == 1, F.col("t")),
            ignorenulls=True,
        )
        .over(w)
        .alias("m_cts"),
    )
    delta = F.unix_micros(F.col("t")) - F.unix_micros(F.col("m_cts"))
    ok = F.col("m_cts").isNotNull() & (delta <= ASOF_TOLERANCE_US)
    return merged.filter(F.col("is_click") == 0).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.when(ok, F.col("m_click_id")).alias("asof_click_id"),
        F.when(ok, delta).cast("long").alias("us_since_click"),
    )


# ---------------------------------------------------------------------------
# SQL surface showcase: the same engine through spark.sql()
# ---------------------------------------------------------------------------
# Everything else in this catalog drives the DataFrame API; this
# query proves the second public surface -- ANSI SQL through
# spark.sql() over registered temp views -- with a multi-CTE,
# windowed analytical query (top-3 customers by revenue per region
# with region revenue share).  The oracle is the SAME SQL text
# modulo dialect casts, so the differential check covers Spark's SQL
# parser/analyzer path end-to-end, not just the DataFrame builders.
_SQL_SHOWCASE = """
    WITH rev AS (
        SELECT c.c_custkey, c.c_name, n.n_regionkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM {orders} o
        JOIN {customer} c ON o.o_custkey = c.c_custkey
        JOIN {nation} n ON c.c_nationkey = n.n_nationkey
        GROUP BY c.c_custkey, c.c_name, n.n_regionkey
    ),
    ranked AS (
        SELECT r.r_name AS region, rev.c_name AS customer,
               rev.cents,
               ROW_NUMBER() OVER (
                   PARTITION BY r.r_name
                   ORDER BY rev.cents DESC, rev.c_custkey) AS rk,
               CAST(SUM(rev.cents) OVER (PARTITION BY r.r_name)
                    AS BIGINT) AS region_cents
        FROM rev JOIN {region} r ON rev.n_regionkey = r.r_regionkey
    )
    SELECT region, customer, rk AS rank,
           ROUND(CAST(cents AS DOUBLE) / 100, 2) AS revenue,
           ROUND(CAST(cents AS DOUBLE) / region_cents, 6)
               AS region_share
    FROM ranked WHERE rk <= 3
"""


@query(
    "sql_interface_topk_share",
    oracle=_SQL_SHOWCASE.format(
        orders="orders",
        customer="customer",
        nation="nation",
        region="region",
    ),
)
def sql_interface_topk_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    for t in ("orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(
            f"sqlshow_{t}"
        )
    return spark.sql(
        _SQL_SHOWCASE.format(
            orders="sqlshow_orders",
            customer="sqlshow_customer",
            nation="sqlshow_nation",
            region="sqlshow_region",
        )
    )
