"""Statistical modelling operators: closed-form OLS trend fits, A/B
test z-statistics, cross-validation fold audits, lagged
autocorrelation, seasonality indices, and equi-depth histograms.

These are the "small-model, big-data" shapes a warehouse runs beside
its analytics (the reference stores only raw KPIs --
src/app/api/companies/route.ts aggregates counts; this family is the
statistics layer a 100 TB corpus needs on top).  Every query follows
the engine's exact-arithmetic convention: per-row values become
integer units (cents / day indices) summed losslessly (long or
split-long/decimal), and the FINAL statistic is a fixed double
expression over those exact sums, rounded -- so Spark and the DuckDB
oracle agree bit-for-bit regardless of partition order.

Scale notes: every operator here reduces the raw table to a bounded
intermediate (per-group sums, per-day counts, a ~10-row fold table)
in ONE map-side-combinable aggregation; the statistics are computed
on the reduced table, so nothing downstream of the first shuffle
grows with the input.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.prefix import bitlen, ntile_from_rank, prefix_scan
from ..functions.scalars import exact_units_sum
from ..registry import query
from ..session import local_df
from ..sources.loaders import load_table
from .lifecycle import _cents


def _md5_bucket(col: F.Column, mod: int) -> F.Column:
    """Deterministic cross-engine hash bucket: first 4 hex digits of
    md5 (16 bits -- uniform, injective on the observed key domain is
    not required, only identical assignment in both engines)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10)
        .cast("int")
        % mod
    )


_MD5_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(CAST({key} AS VARCHAR)), 1, 4)) AS INT)"
    " % {mod}"
)


# -- OLS daily revenue trend per order priority: slope / intercept /
#    r^2 of order value (cents) against the day index, closed form
#    from five exact sums.  The sums are the ONLY aggregation (one
#    shuffle, map-side combined, 5 longs per group); x*y <= ~1.2e11
#    per row rides the split-long accumulator, exact past 1e12 rows.
#    The final stats are one double expression over the per-group sum
#    rows, identical text in both engines -> identical doubles.
@query(
    "ml_ols_daily_trend",
    oracle="""
    WITH pts AS (
        SELECT o_orderpriority,
               date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS x,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
        FROM orders
    ),
    s AS (
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
        FROM pts GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               AS slope_cents_per_day,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) AS intercept_cents,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS r_squared
    FROM s
    """,
)
def ml_ols_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        "o_orderpriority",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
        .cast("long")
        .alias("x"),
        _cents(F.col("o_totalprice")).alias("y"),
    )
    # x <= ~2.4e3, y <= ~5e7: sx/sxx fit a plain long sum to ~1.5e12
    # rows; sy/syy/sxy ride the split-long path (per-row units
    # y*y <= 2.5e15 exceeds the split bound -- keep y*y in decimal).
    s = pts.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        exact_units_sum(F.col("y"), 0).alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(
            (F.col("y").cast("decimal(20,0)") * F.col("y")).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("syy"),
        exact_units_sum(F.col("x") * F.col("y"), 0).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope = cov_n / varx_n
    return s.select(
        "o_orderpriority",
        n.cast("long").alias("n"),
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round((sy - slope * sx) / n, 6).alias("intercept_cents"),
        F.round((cov_n * cov_n) / (varx_n * vary_n), 6).alias(
            "r_squared"
        ),
    )


# -- two-proportion A/B z-test: users hash-split into two arms by
#    md5 (stable across retries and engines -- never rand()), arm
#    conversion = "user made >= 1 high-value (>150) purchase" (the
#    plain any-purchase flag saturates at 1.0 on this fixture's
#    ~66-events-per-user traffic -- a degenerate pooled variance).
#    One grouped aggregate to a per-user flag table, one to the
#    2-row arm table, then the pooled z statistic on the
#    driver-sized result.  Degenerate pools (all/none converted, or
#    an empty arm) yield NULL via NULLIF in BOTH engines instead of
#    an ANSI divide-by-zero.
@query(
    "ml_ab_test_ztest",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               {_MD5_BUCKET_SQL.format(key="user_id", mod=2)} AS arm,
               MAX(CASE WHEN event_type = 'purchase' AND value > 150
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END)
                    AS BIGINT) AS x_a,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END)
                    AS BIGINT) AS x_b
        FROM u
    )
    SELECT n_a, x_a, n_b, x_b,
           ROUND(CAST(x_a AS DOUBLE) / NULLIF(n_a, 0), 6) AS rate_a,
           ROUND(CAST(x_b AS DOUBLE) / NULLIF(n_b, 0), 6) AS rate_b,
           ROUND((CAST(x_a AS DOUBLE) / NULLIF(n_a, 0)
                  - CAST(x_b AS DOUBLE) / NULLIF(n_b, 0))
                 / NULLIF(sqrt(
                       (CAST(x_a + x_b AS DOUBLE) / NULLIF(n_a + n_b, 0))
                       * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                       * (1.0 / NULLIF(n_a, 0)
                          + 1.0 / NULLIF(n_b, 0))), 0), 6) AS z_score
    FROM arms
    """,
)
def ml_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    u = u.withColumn("arm", _md5_bucket(F.col("user_id"), 2))
    arms = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x_b"),
    )

    def _nz(c: F.Column) -> F.Column:
        return F.nullif(c, F.lit(0))

    n_a, x_a = F.col("n_a").cast("double"), F.col("x_a").cast("double")
    n_b, x_b = F.col("n_b").cast("double"), F.col("x_b").cast("double")
    pooled = (x_a + x_b) / _nz(
        (F.col("n_a") + F.col("n_b")).cast("double")
    )
    denom = F.sqrt(
        pooled
        * (1 - pooled)
        * (F.lit(1.0) / _nz(n_a) + F.lit(1.0) / _nz(n_b))
    )
    z = (x_a / _nz(n_a) - x_b / _nz(n_b)) / _nz(denom)
    return arms.select(
        "n_a", "x_a", "n_b", "x_b",
        F.round(x_a / _nz(n_a), 6).alias("rate_a"),
        F.round(x_b / _nz(n_b), 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
    )


# -- k-fold cross-validation audit: deterministic md5 fold assignment
#    (leak-free: an order's fold never depends on data order or
#    cluster size) plus the per-fold balance stats a training
#    pipeline checks before fitting -- row counts, distinct
#    customers, revenue, class (open-order) share.  One aggregation;
#    distinct customers per fold is the only expensive part and is
#    itself a partial-aggregatable count-distinct.
@query(
    "ml_crossval_folds",
    oracle=f"""
    SELECT {_MD5_BUCKET_SQL.format(key="o_orderkey", mod=5)} AS fold,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100 AS revenue,
           ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1
                               ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
               AS open_share
    FROM orders GROUP BY fold
    """,
)
def ml_crossval_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    folds = orders.withColumn(
        "fold", _md5_bucket(F.col("o_orderkey"), 5)
    )
    return folds.groupBy("fold").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        (exact_units_sum(_cents(F.col("o_totalprice")), 0) / 100)
        .alias("revenue"),
        F.round(
            F.sum(
                F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("open_share"),
    )


# -- lagged autocorrelation of the daily event count series (lags
#    1..7): the stationarity probe behind anomaly detection and
#    capacity forecasts.  The raw stream collapses to ONE row per
#    calendar day first, so the pair join runs on a date-domain-
#    bounded table (thousands of rows at any input scale); the
#    7-row lag table broadcasts and (day + lag = day') is a pure
#    equi-join.  Pearson r per lag from exact integer sums.
@query(
    "events_autocorrelation",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS d,
               COUNT(*) AS cnt
        FROM events GROUP BY d
    ),
    pairs AS (
        SELECT g.lag, a.cnt AS x, b.cnt AS y
        FROM generate_series(1, 7) AS g(lag)
        JOIN daily a ON TRUE
        JOIN daily b ON b.d = a.d + g.lag
    ),
    s AS (
        SELECT lag, COUNT(*) AS n_pairs,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
        FROM pairs GROUP BY lag
    )
    SELECT lag, n_pairs,
           ROUND((n_pairs * sxy - sx * sy)
                 / (sqrt(n_pairs * sxx - sx * sx)
                    * sqrt(n_pairs * syy - sy * sy)), 6) AS autocorr
    FROM s
    """,
)
def events_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("long")
        .alias("d")
    ).agg(F.count("*").alias("cnt"))
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("lag"))
    a = daily.crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("d").alias("d2"), F.col("cnt").alias("y")
    )
    # (a.d + lag) = b.d2 is an equi-key -> shuffle/broadcast HASH join,
    # never a nested loop (pinned in tests/test_stats.py).
    pairs = a.join(b, a.d + a.lag == b.d2).select(
        "lag", F.col("cnt").alias("x"), "y"
    )
    # per-day counts are bounded by the day's traffic; the decimal
    # cast keeps x*y exact even at 1e9-events-per-day scale.
    s = pairs.groupBy("lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x").cast("decimal(20,0)") * F.col("x")).cast(
            "decimal(38,0)"
        )).cast("double").alias("sxx"),
        F.sum((F.col("y").cast("decimal(20,0)") * F.col("y")).cast(
            "decimal(38,0)"
        )).cast("double").alias("syy"),
        F.sum((F.col("x").cast("decimal(20,0)") * F.col("y")).cast(
            "decimal(38,0)"
        )).cast("double").alias("sxy"),
    )
    n = F.col("n")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "lag",
        n.cast("long").alias("n_pairs"),
        F.round(r, 6).alias("autocorr"),
    )


# -- day-of-week seasonality index: average daily revenue per weekday
#    relative to the overall daily average (index 1.0 = a flat week).
#    Two bounded aggregations (per-date, then per-dow) plus a 1-row
#    broadcast of the overall totals.  dow is aligned to DuckDB's
#    Sunday=0 labeling (Spark dayofweek is Sunday=1).
@query(
    "orders_dow_seasonality",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               dayofweek(CAST(o_orderdate AS DATE)) AS dow,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY day, dow
    ),
    per_dow AS (
        SELECT dow, COUNT(*) AS n_days,
               CAST(SUM(cents) AS DOUBLE) AS dow_cents
        FROM daily GROUP BY dow
    ),
    total AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS t_days,
               CAST(SUM(cents) AS DOUBLE) AS t_cents
        FROM daily
    )
    SELECT dow, n_days,
           ROUND(dow_cents / n_days / 100, 2) AS avg_daily_revenue,
           ROUND((dow_cents / n_days) / (t_cents / t_days), 6)
               AS seasonality_index
    FROM per_dow CROSS JOIN total
    """,
)
def orders_dow_seasonality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias(
            "dow"
        ),
    ).agg(F.sum(_cents(F.col("o_totalprice"))).alias("cents"))
    per_dow = daily.groupBy("dow").agg(
        F.count("*").alias("n_days"),
        F.sum("cents").cast("double").alias("dow_cents"),
    )
    total = daily.agg(
        F.count("*").cast("double").alias("t_days"),
        F.sum("cents").cast("double").alias("t_cents"),
    )
    j = per_dow.crossJoin(F.broadcast(total))
    return j.select(
        "dow",
        "n_days",
        F.round(F.col("dow_cents") / F.col("n_days") / 100, 2).alias(
            "avg_daily_revenue"
        ),
        F.round(
            (F.col("dow_cents") / F.col("n_days"))
            / (F.col("t_cents") / F.col("t_days")),
            6,
        ).alias("seasonality_index"),
    )


# -- equi-depth (decile) histogram of order value: NTILE(10)
#    semantics stated by the oracle, computed WITHOUT the global
#    single-partition NTILE sort -- the distributed two-pass
#    prefix_scan (bucketed on a coarse monotone price band) plus the
#    arithmetic ntile_from_rank, the same scale-safe shape the RFM
#    query pins.  Output: 10 rows with exact bucket populations,
#    price bounds and revenue.
@query(
    "agg_histogram_equidepth",
    oracle="""
    WITH ranked AS (
        SELECT o_totalprice,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey)
                   AS decile
        FROM orders
    )
    SELECT decile, COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo_price,
           MAX(o_totalprice) AS hi_price,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100 AS revenue
    FROM ranked GROUP BY decile
    """,
)
def agg_histogram_equidepth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    ranked = prefix_scan(
        orders,
        F.floor(F.col("o_totalprice") / 1000),
        [F.col("o_totalprice"), F.col("o_orderkey")],
        [(F.lit(1), "rn")],
    )
    total = orders.agg(F.count("*").alias("n_rows"))
    ranked = ranked.crossJoin(F.broadcast(total))
    ranked = ranked.withColumn(
        "decile",
        ntile_from_rank(F.col("rn"), F.col("n_rows"), 10),
    )
    return ranked.groupBy("decile").agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("lo_price"),
        F.max("o_totalprice").alias("hi_price"),
        (exact_units_sum(_cents(F.col("o_totalprice")), 0) / 100)
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval
# ---------------------------------------------------------------------------
# The distributed bootstrap: true with-replacement resampling needs
# global coordination, but for large n the multinomial row counts of
# a bootstrap replica converge to independent Poisson(1) draws -- so
# each row derives its OWN per-replica multiplicity from a hash, one
# pass, fully map-side-combinable (the standard trick from the
# large-scale-learning literature).  Multiplicities come from a
# 16-bit md5 bucket pushed through the Poisson(1) inverse CDF as
# INTEGER threshold literals -- both engines compare integers, no
# float boundary can disagree.

_B_REPLICAS = 64

#: Poisson(1) CDF scaled to the 16-bit md5 bucket domain; multiplicity
#: k = number of thresholds <= u (capped at 8; P(X>8) ~ 1e-6).
_POIS_TH = [24109, 48219, 60273, 64292, 65296, 65497, 65531, 65535]

#: discrete 95% interval on B sorted replica means: percentile_disc
#: convention, 1-based ranks ceil(0.025*B) and ceil(0.975*B).
_CI_LO_RANK = math.ceil(0.025 * _B_REPLICAS)
_CI_HI_RANK = math.ceil(0.975 * _B_REPLICAS)


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_TH)
    )
    return f"CASE {branches} ELSE {len(_POIS_TH)} END"


# -- bootstrap CI for the mean order value: B=64 Poisson replicas in
#    ONE aggregation pass (the replica id is a broadcast explode;
#    partial aggregation reduces each partition to B rows before the
#    shuffle), then the percentile bracket over the 64 replica means
#    -- a driver-sized list.  Replica means divide two exact
#    integers, so both engines see identical doubles.
#    Hash economics: one md5 yields 32 hex digits = EIGHT independent
#    16-bit substreams, so each row hashes only B/8 times and the
#    remaining per-replica work is substring arithmetic -- an 8x cut
#    of the dominant cost (measured 20s -> ~5s at sf0.1 x B=64).
def _boot_u_sql(r: int) -> str:
    j, m = r // 8, (r % 8) // 2
    c = (
        f"CAST(concat('0x', substr(md5(concat(CAST(o_orderkey AS"
        f" VARCHAR), ':', '{j}')), {1 + 8 * m}, 8)) AS BIGINT)"
    )
    return f"({c} >> 16)" if r % 2 == 0 else f"({c} & 65535)"


def _boot_oracle() -> str:
    sums = ",\n               ".join(
        f"SUM(({_pois_case_sql(_boot_u_sql(r))}) * cents) AS s{r},\n"
        f"               SUM({_pois_case_sql(_boot_u_sql(r))}) AS c{r}"
        for r in range(_B_REPLICAS)
    )
    mean_cases_s = " ".join(
        f"WHEN {r} THEN CAST(s{r} AS DOUBLE)"
        for r in range(_B_REPLICAS)
    )
    mean_cases_c = " ".join(
        f"WHEN {r} THEN CAST(c{r} AS DOUBLE)"
        for r in range(_B_REPLICAS)
    )
    return f"""
    WITH r AS MATERIALIZED (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    agg AS MATERIALIZED (
        SELECT {sums}
        FROM r
    ),
    means AS MATERIALIZED (
        SELECT i.i AS rep,
               (CASE i.i {mean_cases_s} END)
               / (CASE i.i {mean_cases_c} END) / 100 AS m
        FROM agg CROSS JOIN generate_series(0, {_B_REPLICAS - 1}) i(i)
    ),
    base AS (
        SELECT COUNT(*) AS n_orders,
               ROUND(CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100, 4)
                   AS mean_value
        FROM r
    )
    SELECT n_orders, mean_value,
           ROUND(list_sort(list(m))[{_CI_LO_RANK}], 4) AS ci_lo,
           ROUND(list_sort(list(m))[{_CI_HI_RANK}], 4) AS ci_hi,
           {_B_REPLICAS} AS n_replicas
    FROM means CROSS JOIN base
    GROUP BY n_orders, mean_value
    """


@query("ml_bootstrap_mean_ci", oracle=_boot_oracle())
def ml_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents(F.col("o_totalprice")).alias("cents")
    )
    # the fixture ships one parquet file -> ONE input split, which
    # serializes the hash stage on a single core.  Fan out the
    # 2-column projection first (a ~20MB shuffle); at production
    # scale inputs arrive in many splits and this exchange is noise.
    orders = orders.repartition(
        spark.sparkContext.defaultParallelism
    )
    # Plan shape (third iteration, all measured at sf0.1):
    #  - explode x64 then aggregate: 96M-row explode dominates (20s)
    #  - single 128-buffer aggregate: >100 agg functions falls out
    #    of whole-stage codegen into interpreted eval (5s in the agg)
    #  - THIS: explode only x8 (one row per md5), then SIXTEEN
    #    aggregates per hash-index group -- codegen keeps the sums
    #    compiled and each md5 is computed exactly once.
    js = spark.range(_B_REPLICAS // 8).select(
        F.col("id").cast("int").alias("j")
    )
    g = orders.crossJoin(F.broadcast(js)).select(
        "cents",
        "j",
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("j").cast("string"),
            )
        ).alias("h"),
    )
    parsed = g.select(
        "cents",
        "j",
        *[
            F.conv(F.substring(F.col("h"), 1 + 8 * m, 8), 16, 10)
            .cast("long")
            .alias(f"L{m}")
            for m in range(4)
        ],
    )

    def mult_sql(i: int) -> str:
        """Multiplicity = #thresholds <= u, branch-free -- the same
        sum-of-comparisons expression as before r13, parsed from ONE
        SQL string instead of ~50 py4j Column calls per replica
        (construction cost was ~0.7 s of this cell's wall time)."""
        u = (
            f"shiftright(L{i // 2}, 16)"
            if i % 2 == 0
            else f"(L{i // 2} & 65535)"
        )
        return (
            "("
            + " + ".join(
                f"CAST(({u} >= {t}) AS BIGINT)" for t in _POIS_TH
            )
            + ")"
        )

    aggs = []
    for i in range(8):
        m = mult_sql(i)
        aggs.append(F.expr(f"sum({m} * cents) AS s{i}"))
        aggs.append(F.expr(f"sum({m}) AS c{i}"))
    grouped = parsed.groupBy("j").agg(*aggs)
    means = grouped.select(
        F.explode(
            F.array(
                *[
                    (
                        F.col(f"s{i}").cast("double")
                        / F.col(f"c{i}").cast("double")
                        / 100
                    )
                    for i in range(8)
                ]
            )
        ).alias("m")
    )
    bracket = means.agg(
        F.round(
            F.element_at(
                F.sort_array(F.collect_list("m")), _CI_LO_RANK
            ),
            4,
        ).alias("ci_lo"),
        F.round(
            F.element_at(
                F.sort_array(F.collect_list("m")), _CI_HI_RANK
            ),
            4,
        ).alias("ci_hi"),
    )
    base = orders.agg(
        F.count("*").alias("n_orders"),
        F.round(
            exact_units_sum(F.col("cents"), 0)
            / F.count("*").cast("double")
            / 100,
            4,
        ).alias("mean_value"),
    )
    return base.crossJoin(F.broadcast(bracket)).select(
        "n_orders",
        "mean_value",
        "ci_lo",
        "ci_hi",
        F.lit(_B_REPLICAS).alias("n_replicas"),
    )


# -- multivariate OLS via the normal equations: order value regressed
#    on (day index, day-of-week), solved closed-form with Cramer's
#    rule on the 3x3 Gram matrix.  ONE aggregation pass collects the
#    nine exact sums; the solve is a fixed double expression over a
#    single row.  The same shape extends to any small feature count
#    -- the Gram matrix is O(p^2) per partition, never O(n).
@query(
    "ml_ols_multivariate",
    oracle="""
    WITH pts AS (
        SELECT date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS x1,
               dayofweek(CAST(o_orderdate AS DATE)) AS x2,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
        FROM orders
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x1) AS DOUBLE) AS s1,
               CAST(SUM(x2) AS DOUBLE) AS s2,
               CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
               CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
               CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
               CAST(SUM(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS s2y
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND((sy * (s11 * s22 - s12 * s12)
                  - s1 * (s1y * s22 - s12 * s2y)
                  + s2 * (s1y * s12 - s11 * s2y))
                 / (n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2)), 6) AS b0_cents,
           ROUND((n * (s1y * s22 - s12 * s2y)
                  - sy * (s1 * s22 - s12 * s2)
                  + s2 * (s1 * s2y - s1y * s2))
                 / (n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2)), 6)
               AS b1_cents_per_day,
           ROUND((n * (s11 * s2y - s1y * s12)
                  - s1 * (s1 * s2y - s1y * s2)
                  + sy * (s1 * s12 - s11 * s2))
                 / (n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2)), 6)
               AS b2_cents_per_dow
    FROM s
    """,
)
def ml_ols_multivariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
        .cast("long")
        .alias("x1"),
        # DuckDB dow labels (Sunday=0); the -1 alignment keeps the
        # coefficient comparable across engines
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1)
        .cast("long")
        .alias("x2"),
        _cents(F.col("o_totalprice")).alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        exact_units_sum(F.col("y"), 0).alias("sy"),
        exact_units_sum(F.col("x1") * F.col("y"), 0).alias("s1y"),
        exact_units_sum(F.col("x2") * F.col("y"), 0).alias("s2y"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    b0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    ) / det
    b1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    ) / det
    b2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    ) / det
    return s.select(
        n.cast("long").alias("n"),
        F.round(b0, 6).alias("b0_cents"),
        F.round(b1, 6).alias("b1_cents_per_day"),
        F.round(b2, 6).alias("b2_cents_per_dow"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend forecast
# ---------------------------------------------------------------------------
# The two-parameter extension of the SES baseline
# (operators/analytics.py orders_forecast_ses): level AND trend
# recursions
#     l_t = a*y_t + (1-a)*(l_{t-1} + b_{t-1})
#     b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1}
# with l_1 = y_1, b_1 = y_2 - y_1.  Both states are LINEAR in the
# observations, so the coupled recursion unrolls into weight tables
# computed once from powers of the 2x2 companion matrix
#     A = [[1-a, 1-a], [-a*g, 1-a*g]],  input vector v = (a, a*g):
#     s_t = A^(t-1) s_1 + sum_{j=2..t} A^(t-j) v y_j.
# Interior weights depend only on the lag t-j; the j=1 / j=2 columns
# carry the initialization boundary.  Weights are quantized to
# 9-decimal literals SHARED by both engines -- the quantized filter is
# the operator's definition, so cross-engine equality is exact by
# construction, not by float luck (same rationale as the SES decimal
# weight tables).  The month x month unrolled join is quadratic only
# over the bounded monthly summary, never the fact table.

HOLT_ALPHA = 0.3
HOLT_GAMMA = 0.2
_HOLT_MAX_T = 120


def _holt_weight_tables() -> tuple[list, list, list, list, list, list]:
    """(C1_l, C1_b, C2_l, C2_b, LAG_l, LAG_b) as 9-dp Decimals.

    C1[t] / C2[t] (1-based t) are the boundary coefficients of y_1 /
    y_2 in (l_t, b_t); C2 already INCLUDES the interior A^(t-2) v
    term, so query-side j=2 reads one array.  LAG[k] (0-based lag
    k=t-j) covers j >= 3.
    """
    from decimal import Decimal

    a, g = HOLT_ALPHA, HOLT_GAMMA
    A = ((1 - a, 1 - a), (-a * g, 1 - a * g))
    v = (a, a * g)

    def mat_vec(m, x):
        return (
            m[0][0] * x[0] + m[0][1] * x[1],
            m[1][0] * x[0] + m[1][1] * x[1],
        )

    def mat_mul(m, n):
        return (
            (
                m[0][0] * n[0][0] + m[0][1] * n[1][0],
                m[0][0] * n[0][1] + m[0][1] * n[1][1],
            ),
            (
                m[1][0] * n[0][0] + m[1][1] * n[1][0],
                m[1][0] * n[0][1] + m[1][1] * n[1][1],
            ),
        )

    q = lambda x: Decimal(f"{x:.9f}")  # noqa: E731
    powers = [((1.0, 0.0), (0.0, 1.0))]
    for _ in range(_HOLT_MAX_T):
        powers.append(mat_mul(A, powers[-1]))
    c1l, c1b, c2l, c2b, lagl, lagb = [], [], [], [], [], []
    for k in range(_HOLT_MAX_T):
        wl, wb = mat_vec(powers[k], v)
        lagl.append(q(wl))
        lagb.append(q(wb))
    for t in range(1, _HOLT_MAX_T + 1):
        p = powers[t - 1]
        y1l, y1b = mat_vec(p, (1.0, -1.0))
        c1l.append(q(y1l))
        c1b.append(q(y1b))
        e2l, e2b = mat_vec(p, (0.0, 1.0))
        if t >= 2:
            il, ib = mat_vec(powers[t - 2], v)
        else:
            il, ib = 0.0, 0.0
        c2l.append(q(e2l + il))
        c2b.append(q(e2b + ib))
    return c1l, c1b, c2l, c2b, lagl, lagb


_H_C1L, _H_C1B, _H_C2L, _H_C2B, _H_LAGL, _H_LAGB = _holt_weight_tables()
_H_DEC = "DECIMAL(12,9)"


def _dec_arr_sql(xs) -> str:
    return "[" + ", ".join(f"CAST({x} AS {_H_DEC})" for x in xs) + "]"


def _holt_weight_sql(component: str) -> str:
    c1, c2, lag = {
        "l": (_H_C1L, _H_C2L, _H_LAGL),
        "b": (_H_C1B, _H_C2B, _H_LAGB),
    }[component]
    return f"""CASE WHEN prior.t = 1 THEN ({_dec_arr_sql(c1)})[cur.t]
               WHEN prior.t = 2 THEN ({_dec_arr_sql(c2)})[cur.t]
               ELSE ({_dec_arr_sql(lag)})[cur.t - prior.t + 1] END"""


@query(
    "orders_forecast_holt",
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
    ),
    states AS (
        SELECT cur.mo, cur.cents,
               SUM(CAST(prior.cents AS DECIMAL(20,0))
                   * {_holt_weight_sql("l")}) AS lev,
               SUM(CAST(prior.cents AS DECIMAL(20,0))
                   * {_holt_weight_sql("b")}) AS trd
        FROM idx cur JOIN idx prior ON prior.t <= cur.t
        WHERE cur.t >= 2
        GROUP BY cur.mo, cur.cents
    )
    SELECT mo, cents / 100.0 AS revenue,
           CAST(ROUND(lev, 0) AS DOUBLE) / 100.0 AS holt_level,
           CAST(ROUND(trd, 0) AS DOUBLE) / 100.0 AS holt_trend,
           CAST(ROUND(lev + trd, 0) AS DOUBLE) / 100.0
               AS forecast_next
    FROM states
    """,
)
def orders_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    monthly = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.to_date(
                F.date_trunc("month", F.col("o_orderdate"))
            ).alias("mo"),
            _cents(F.col("o_totalprice")).alias("cents"),
        )
        .groupBy("mo")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    # global row_number over the bounded monthly summary only (same
    # audited shape as orders_forecast_ses)
    idx = monthly.withColumn(
        "t", F.row_number().over(Window.orderBy("mo")).cast("int")
    ).cache()
    dec = _H_DEC.lower()

    def arr(xs):
        return F.array(*[F.lit(x).cast(dec) for x in xs])

    def weight(c1, c2, lag):
        tc, tp = F.col("tc"), F.col("tp")
        return (
            F.when(tp == 1, F.element_at(arr(c1), tc))
            .when(tp == 2, F.element_at(arr(c2), tc))
            .otherwise(F.element_at(arr(lag), tc - tp + 1))
        )

    cur = idx.select(
        F.col("mo"), F.col("cents"), F.col("t").alias("tc")
    ).filter(F.col("tc") >= 2)
    prior = idx.select(
        F.col("cents").alias("pcents"), F.col("t").alias("tp")
    )
    pc = F.col("pcents").cast("decimal(20,0)")
    states = (
        cur.join(prior, F.col("tp") <= F.col("tc"))
        .groupBy("mo", "cents")
        .agg(
            F.sum(pc * weight(_H_C1L, _H_C2L, _H_LAGL)).alias("lev"),
            F.sum(pc * weight(_H_C1B, _H_C2B, _H_LAGB)).alias("trd"),
        )
    )
    return states.select(
        "mo",
        (F.col("cents") / 100.0).alias("revenue"),
        (F.round(F.col("lev"), 0).cast("double") / 100.0).alias(
            "holt_level"
        ),
        (F.round(F.col("trd"), 0).cast("double") / 100.0).alias(
            "holt_trend"
        ),
        (
            F.round(F.col("lev") + F.col("trd"), 0).cast("double")
            / 100.0
        ).alias("forecast_next"),
    )


# -- leak-free target encoding: the categorical-feature encoder used
#    before gradient boosting -- each row's category is replaced by
#    the mean target of OTHER folds, so a row never sees its own fold
#    (the leak source in naive mean encoding).  Computed without a
#    per-row pass: per-(category, fold) sums in one aggregation, the
#    per-category totals by re-aggregating the 25-row fold table, and
#    the out-of-fold mean falls out as (total - fold) / (n - n_fold)
#    -- exact integer cents, one fixed double division.
@query(
    "ml_target_encoding",
    oracle=f"""
    WITH r AS (
        SELECT c.c_mktsegment AS segment,
               {_MD5_BUCKET_SQL.format(key="o.o_orderkey", mod=5)}
                   AS fold,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per_fold AS (
        SELECT segment, fold, COUNT(*) AS n_f,
               CAST(SUM(y) AS BIGINT) AS s_f
        FROM r GROUP BY segment, fold
    ),
    per_cat AS (
        SELECT segment, CAST(SUM(n_f) AS BIGINT) AS n,
               CAST(SUM(s_f) AS BIGINT) AS s
        FROM per_fold GROUP BY segment
    )
    SELECT f.segment, f.fold, f.n_f AS n_rows,
           ROUND(CAST(c.s - f.s_f AS DOUBLE)
                 / NULLIF(c.n - f.n_f, 0) / 100, 4) AS oof_encoding
    FROM per_fold f JOIN per_cat c ON f.segment = c.segment
    """,
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    r = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select(
        F.col("c_mktsegment").alias("segment"),
        _md5_bucket(F.col("o_orderkey"), 5).alias("fold"),
        _cents(F.col("o_totalprice")).alias("y"),
    )
    per_fold = r.groupBy("segment", "fold").agg(
        F.count("*").alias("n_f"),
        F.sum("y").cast("long").alias("s_f"),
    )
    per_cat = per_fold.groupBy("segment").agg(
        F.sum("n_f").cast("long").alias("n"),
        F.sum("s_f").cast("long").alias("s"),
    )
    j = per_fold.join(F.broadcast(per_cat), "segment")
    return j.select(
        "segment",
        "fold",
        F.col("n_f").alias("n_rows"),
        F.round(
            (F.col("s") - F.col("s_f")).cast("double")
            / F.nullif(
                (F.col("n") - F.col("n_f")), F.lit(0)
            ).cast("double")
            / 100,
            4,
        ).alias("oof_encoding"),
    )


# -- weight of evidence + information value: the credit-scoring
#    bin-quality metric.  Binary target = high-value order; per
#    priority bin, WoE = ln(share-of-good / share-of-bad) and the
#    bin's IV contribution.  The shares are exact integer ratios;
#    ln() is applied ONCE per bin to an identical double in both
#    engines (never summed across rows, so no order dependence --
#    the same discipline as the entropy query).
@query(
    "ml_woe_iv",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority AS bin,
               CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END
                   AS good
        FROM orders
    ),
    b AS (
        SELECT bin,
               CAST(SUM(good) AS BIGINT) AS n_good,
               CAST(SUM(1 - good) AS BIGINT) AS n_bad
        FROM r GROUP BY bin
    ),
    t AS (
        SELECT CAST(SUM(n_good) AS BIGINT) AS t_good,
               CAST(SUM(n_bad) AS BIGINT) AS t_bad
        FROM b
    )
    SELECT bin, n_good, n_bad,
           ROUND(ln((CAST(n_good AS DOUBLE) / t_good)
                    / (CAST(n_bad AS DOUBLE) / t_bad)), 6) AS woe,
           ROUND((CAST(n_good AS DOUBLE) / t_good
                  - CAST(n_bad AS DOUBLE) / t_bad)
                 * ln((CAST(n_good AS DOUBLE) / t_good)
                      / (CAST(n_bad AS DOUBLE) / t_bad)), 6)
               AS iv_contrib
    FROM b CROSS JOIN t
    """,
)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    r = orders.select(
        F.col("o_orderpriority").alias("bin"),
        F.when(F.col("o_totalprice") > 200000, 1)
        .otherwise(0)
        .alias("good"),
    )
    b = r.groupBy("bin").agg(
        F.sum("good").cast("long").alias("n_good"),
        F.sum(1 - F.col("good")).cast("long").alias("n_bad"),
    )
    t = b.agg(
        F.sum("n_good").cast("long").alias("t_good"),
        F.sum("n_bad").cast("long").alias("t_bad"),
    )
    j = b.crossJoin(F.broadcast(t))
    pg = F.col("n_good").cast("double") / F.col("t_good")
    pb = F.col("n_bad").cast("double") / F.col("t_bad")
    woe = F.log(pg / pb)
    return j.select(
        "bin",
        "n_good",
        "n_bad",
        F.round(woe, 6).alias("woe"),
        F.round((pg - pb) * woe, 6).alias("iv_contrib"),
    )


# ---------------------------------------------------------------------------
# Exponential time-decay scoring
# ---------------------------------------------------------------------------
# Recency-weighted engagement (feed-ranking / trending style):
# each event contributes 2^(-age_days / half_life).  A naive
# formulation computes pow() per row and SUMs doubles -- partition-
# order-dependent and engine-divergent.  Here age is an exact integer
# day count indexing a BOUNDED table of quantized decimal weights
# (the literal table is the operator's definition, shared by both
# engines), so the decayed aggregates are exact decimal sums --
# order-independent, map-side combinable, and bit-identical
# cross-engine.  Ages beyond the table clamp to weight 0 (fully
# decayed), which also bounds the literal table size forever.

DECAY_HALF_LIFE_DAYS = 7
DECAY_REF_DATE = "2024-02-01"
_DECAY_MAX_AGE = 64

from decimal import Decimal as _Decimal  # noqa: E402

_DECAY_W = [
    _Decimal(f"{2.0 ** (-age / DECAY_HALF_LIFE_DAYS):.9f}")
    for age in range(_DECAY_MAX_AGE)
]
_DECAY_W_SQL = (
    "["
    + ", ".join(f"CAST({w} AS DECIMAL(10,9))" for w in _DECAY_W)
    + "]"
)


@query(
    "events_decay_weighted_score",
    oracle=f"""
    WITH r AS (
        SELECT event_type,
               date_diff('day', CAST(ts AS DATE),
                         DATE '{DECAY_REF_DATE}') AS age,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    w AS (
        SELECT event_type, cents,
               CASE WHEN age BETWEEN 0 AND {_DECAY_MAX_AGE - 1}
                    THEN ({_DECAY_W_SQL})[age + 1]
                    ELSE CAST(0 AS DECIMAL(10,9)) END AS wt
        FROM r
    )
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(SUM(wt), 6) AS decayed_count,
           CAST(ROUND(SUM(CAST(cents AS DECIMAL(20,0)) * wt), 0)
                AS DOUBLE) / 100 AS decayed_value
    FROM w GROUP BY event_type
    """,
)
def events_decay_weighted_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    age = F.datediff(
        F.lit(DECAY_REF_DATE), F.col("ts").cast("date")
    )
    warr = F.array(
        *[F.lit(w).cast("decimal(10,9)") for w in _DECAY_W]
    )
    wt = F.when(
        (age >= 0) & (age < _DECAY_MAX_AGE),
        F.element_at(warr, age + 1),
    ).otherwise(F.lit("0").cast("decimal(10,9)"))
    r = events.select(
        "event_type",
        wt.alias("wt"),
        _cents(F.col("value")).alias("cents"),
    )
    return r.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("wt"), 6).alias("decayed_count"),
        (
            F.round(
                F.sum(F.col("cents").cast("decimal(20,0)") * F.col("wt")),
                0,
            ).cast("double")
            / 100
        ).alias("decayed_value"),
    )


# -- 3-sigma control chart on daily event volume: the Shewhart chart
#    behind pipeline volume monitoring.  Center line and sigma come
#    from exact integer day-count sums (population variance via
#    n*Sxx - Sx^2); every day is judged against limits computed over
#    the WHOLE period -- one bounded per-day aggregate, a 1-row
#    broadcast of the limits, and an integer comparison restated as
#    exact cross-multiplication (no sqrt boundary can flip a flag:
#    (n*cnt - Sx)^2 > 9 * (n*Sxx - Sx^2) compares exact integers).
@query(
    "dq_control_chart_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        FROM events GROUP BY day
    ),
    lim AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cnt) AS BIGINT) AS sx,
               CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS BIGINT) AS sxx
        FROM daily
    )
    SELECT day, cnt,
           ROUND(CAST(sx AS DOUBLE) / n, 4) AS center,
           ROUND(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 / n, 4) AS sigma,
           (CAST(n AS HUGEINT) * cnt - sx)
               * (CAST(n AS HUGEINT) * cnt - sx)
               > 9 * (CAST(n AS HUGEINT) * sxx
                      - CAST(sx AS HUGEINT) * sx) AS out_of_control
    FROM daily CROSS JOIN lim
    """,
)
def dq_control_chart_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("cnt"))
    lim = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("sx"),
        F.sum(
            (F.col("cnt").cast("decimal(20,0)") * F.col("cnt")).cast(
                "decimal(38,0)"
            )
        )
        .cast("long")
        .alias("sxx"),
    )
    j = daily.crossJoin(F.broadcast(lim))
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    dev = (
        n.cast("decimal(38,0)") * F.col("cnt") - sx
    )
    return j.select(
        "day",
        "cnt",
        F.round(sx.cast("double") / n, 4).alias("center"),
        F.round(
            F.sqrt(
                n.cast("double") * sxx - sx.cast("double") * sx
            )
            / n,
            4,
        ).alias("sigma"),
        (
            dev * dev
            > 9
            * (
                n.cast("decimal(38,0)") * sxx
                - sx.cast("decimal(38,0)") * sx
            )
        ).alias("out_of_control"),
    )


# -- rolling 28-day OLS slope of daily revenue: trend detection as a
#    WINDOWED regression -- the rolling sufficient statistics (n, Sx,
#    Sy, Sxx, Sxy) accumulate over a RANGE frame on the integer day
#    index (gap-correct on sparse calendars, identical semantics in
#    both engines), and the slope is the same closed form as
#    ml_ols_daily_trend applied per frame.  The window runs
#    partition-less but only over the per-day summary -- bounded by
#    the date domain, the audited pattern of the other rolling
#    queries.  Frames with <2 points or zero x-variance yield NULL
#    via NULLIF.
ROLL_OLS_DAYS = 28


@query(
    "window_rolling_ols_slope",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY d
    ),
    w AS (
        SELECT d,
               CAST(COUNT(*) OVER fr AS DOUBLE) AS n,
               CAST(SUM(d) OVER fr AS DOUBLE) AS sx,
               CAST(SUM(y) OVER fr AS DOUBLE) AS sy,
               CAST(SUM(CAST(d AS HUGEINT) * d) OVER fr AS DOUBLE)
                   AS sxx,
               CAST(SUM(CAST(d AS HUGEINT) * y) OVER fr AS DOUBLE)
                   AS sxy
        FROM daily
        WINDOW fr AS (ORDER BY d RANGE BETWEEN {ROLL_OLS_DAYS - 1}
                      PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(DATE '1995-01-01' + INTERVAL (d) DAY AS DATE) AS day,
           CAST(n AS BIGINT) AS n_days,
           ROUND((n * sxy - sx * sy)
                 / NULLIF(n * sxx - sx * sx, 0), 6)
               AS slope_cents_per_day
    FROM w
    """,
)
def window_rolling_ols_slope(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
        .cast("long")
        .alias("d")
    ).agg(F.sum(_cents(F.col("o_totalprice"))).alias("y"))
    fr = (
        Window.orderBy("d")
        .rangeBetween(-(ROLL_OLS_DAYS - 1), Window.currentRow)
    )
    dd = F.col("d")
    w = daily.select(
        "d",
        F.count("*").over(fr).cast("double").alias("n"),
        F.sum("d").over(fr).cast("double").alias("sx"),
        F.sum("y").over(fr).cast("double").alias("sy"),
        F.sum((dd.cast("decimal(20,0)") * dd).cast("decimal(38,0)"))
        .over(fr)
        .cast("double")
        .alias("sxx"),
        F.sum(
            (dd.cast("decimal(20,0)") * F.col("y")).cast(
                "decimal(38,0)"
            )
        )
        .over(fr)
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return w.select(
        F.date_add(F.lit("1995-01-01"), F.col("d").cast("int")).alias(
            "day"
        ),
        n.cast("long").alias("n_days"),
        F.round(
            (n * F.col("sxy") - sx * sy)
            / F.nullif(n * F.col("sxx") - sx * sx, F.lit(0.0)),
            6,
        ).alias("slope_cents_per_day"),
    )


# -- randomized response (Warner's method): the classic local-DP
#    collection mechanism.  Each row reports its true bit with
#    probability 3/4 and a uniform coin otherwise; both "coins" come
#    from disjoint md5 bits, so the mechanism is deterministic per
#    row, reproducible across engines and retries, and the DEBIASED
#    aggregate (pi = (p_observed - 1/8) / (3/4)) can be compared
#    against the true rate it may never see in production.  One
#    aggregation pass, exact integer counts, fixed double debias
#    expression.
@query(
    "privacy_randomized_response",
    oracle="""
    WITH r AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS truth,
               CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),
                                        1, 4)) AS INT) AS u
        FROM events
    ),
    obs AS (
        SELECT truth,
               CASE WHEN u < 49152 THEN truth
                    ELSE u % 2 END AS report
        FROM r
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(truth) AS BIGINT) AS n_true,
               CAST(SUM(report) AS BIGINT) AS n_report
        FROM obs
    )
    SELECT n, n_true, n_report,
           ROUND(CAST(n_true AS DOUBLE) / n, 6) AS true_rate,
           ROUND(CAST(n_report AS DOUBLE) / n, 6) AS observed_rate,
           ROUND((CAST(n_report AS DOUBLE) / n - 0.125) / 0.75, 6)
               AS debiased_rate
    FROM s
    """,
)
def privacy_randomized_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    u = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 4),
        16,
        10,
    ).cast("int")
    truth = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    obs = events.select(
        truth.alias("truth"),
        F.when(u < 49152, truth).otherwise(u % 2).alias("report"),
    )
    s = obs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("truth").cast("long").alias("n_true"),
        F.sum("report").cast("long").alias("n_report"),
    )
    n = F.col("n").cast("double")
    return s.select(
        "n",
        "n_true",
        "n_report",
        F.round(F.col("n_true").cast("double") / n, 6).alias(
            "true_rate"
        ),
        F.round(F.col("n_report").cast("double") / n, 6).alias(
            "observed_rate"
        ),
        F.round(
            (F.col("n_report").cast("double") / n - 0.125) / 0.75, 6
        ).alias("debiased_rate"),
    )


# -- rolling 7-day exact MEDIAN of daily revenue: Spark has no exact
#    windowed percentile, so the trailing window is materialized by
#    the same bounded-explode trick as join_range_binned -- each day
#    contributes itself to the 7 target days it can serve (equi-join
#    keys, never an inequality self-join / BNLJ), then an exact
#    grouped percentile per target day.  Explode factor is the window
#    length; the whole computation runs on the bounded per-day
#    summary.  Median of exact integer cents interpolates the middle
#    pair as (a+b)/2 -- a dyadic-exact double, identical in both
#    engines.  The median is emitted in CENTS, unrounded: an
#    even-count frame yields an exact half-cent (dyadic -- exactly
#    representable in double), while dividing by 100 and rounding to
#    2 decimals would sit ON the rounding boundary, where Spark
#    (BigDecimal shortest-repr HALF_UP) and DuckDB (binary-double
#    round) disagree -- the documented cross-engine hazard the SES
#    filter first hit.
@query(
    "window_rolling_median_7day",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY d
    ),
    contrib AS (
        SELECT daily.d + off AS target, daily.y
        FROM daily CROSS JOIN generate_series(0, 6) g(off)
    ),
    w AS (
        SELECT c.target AS d, COUNT(*) AS n_days,
               median(c.y) AS med
        FROM contrib c
        JOIN daily t ON t.d = c.target
        GROUP BY c.target
    )
    SELECT CAST(DATE '1995-01-01' + INTERVAL (d) DAY AS DATE) AS day,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(med AS DOUBLE) AS median_daily_cents
    FROM w
    """,
)
def window_rolling_median_7day(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
        .cast("long")
        .alias("d")
    ).agg(F.sum(_cents(F.col("o_totalprice"))).alias("y"))
    contrib = daily.select(
        F.explode(
            F.sequence(F.col("d"), F.col("d") + 6)
        ).alias("target"),
        "y",
    )
    targets = daily.select(F.col("d").alias("target"))
    w = (
        contrib.join(targets, "target")
        .groupBy("target")
        .agg(
            F.count("*").alias("n_days"),
            F.percentile(F.col("y"), F.lit(0.5)).alias("med"),
        )
    )
    return w.select(
        F.date_add(
            F.lit("1995-01-01"), F.col("target").cast("int")
        ).alias("day"),
        F.col("n_days").cast("long").alias("n_days"),
        F.col("med").cast("double").alias("median_daily_cents"),
    )


# -- sessionized bounce rate: split each user's clickstream at
#    30-minute inactivity gaps (lag + cumulative-flag windows, both
#    PARTITIONED by user -- the scalable sessionization shape), then
#    the share of single-event sessions per calendar day.  All
#    counts exact; the rate is one fixed double division.
SESSION_GAP_S = 1800


@query(
    "events_session_bounce_rate",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_S} SECOND
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        -- event_id tiebreak matches the lag step's order: duplicate
        -- (user_id, ts) rows must split sessions identically in both
        -- engines
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS sid
        FROM seq
    ),
    per AS (
        SELECT user_id, sid, MIN(CAST(ts AS DATE)) AS day,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sid
    )
    SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bounce,
           ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS bounce_rate
    FROM per GROUP BY day
    """,
)
def events_session_bounce_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(wo).isNull()
            | (
                F.col("ts").cast("double")
                - F.lag("ts").over(wo).cast("double")
                > SESSION_GAP_S
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    # event_id tiebreak keeps the running sum's order identical to the
    # lag step's (duplicate timestamps must sessionize deterministically)
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = seq.withColumn("sid", F.sum("new_s").over(wc))
    per = sess.groupBy("user_id", "sid").agg(
        F.min(F.col("ts").cast("date")).alias("day"),
        F.count("*").alias("n_events"),
    )
    bounce = F.sum(
        F.when(F.col("n_events") == 1, 1).otherwise(0)
    )
    return per.groupBy("day").agg(
        F.count("*").cast("long").alias("n_sessions"),
        bounce.cast("long").alias("n_bounce"),
        F.round(
            bounce.cast("double") / F.count("*"), 6
        ).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# Fixed-window DFT harmonics
# ---------------------------------------------------------------------------
# Spectral cadence analysis of the event stream: the discrete Fourier
# transform of the daily count series over a fixed 28-day window, at
# harmonics k=1..4 (k=4 is the 7-day week).  Per-row cos/sin would be
# transcendental doubles summed in partition order -- divergent; the
# phase (d*k) mod 28 has only 28 values, so the twiddle factors are a
# QUANTIZED DECIMAL TABLE (the same discipline as the decay/NDCG/SES
# tables) and the Fourier sums are exact decimal dot products of
# integer counts with literal weights: order-independent, map-side
# combinable, bit-identical cross-engine.

FOURIER_N = 28
FOURIER_HARMONICS = 4
_FOURIER_REF = "2024-01-01"

from decimal import Decimal as _FDec  # noqa: E402

_COS_T = [
    _FDec(f"{math.cos(2 * math.pi * p / FOURIER_N):.9f}")
    for p in range(FOURIER_N)
]
_SIN_T = [
    _FDec(f"{math.sin(2 * math.pi * p / FOURIER_N):.9f}")
    for p in range(FOURIER_N)
]


def _dec_arr(xs) -> str:
    return (
        "["
        + ", ".join(f"CAST({x} AS DECIMAL(12,9))" for x in xs)
        + "]"
    )


@query(
    "events_fourier_weekly_harmonics",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '{_FOURIER_REF}',
                         CAST(ts AS DATE)) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events
        WHERE CAST(ts AS DATE) >= DATE '{_FOURIER_REF}'
          AND CAST(ts AS DATE) < DATE '{_FOURIER_REF}'
              + INTERVAL {FOURIER_N} DAY
        GROUP BY d
    ),
    terms AS (
        SELECT g.k, daily.c, (daily.d * g.k) % {FOURIER_N} AS p
        FROM daily
        CROSS JOIN generate_series(1, {FOURIER_HARMONICS}) g(k)
    ),
    sums AS (
        SELECT k,
               SUM(CAST(c AS DECIMAL(20,0))
                   * ({_dec_arr(_COS_T)})[p + 1]) AS re,
               SUM(CAST(c AS DECIMAL(20,0))
                   * ({_dec_arr(_SIN_T)})[p + 1]) AS im
        FROM terms GROUP BY k
    )
    SELECT k,
           ROUND(CAST(re AS DOUBLE), 4) AS re,
           ROUND(-CAST(im AS DOUBLE), 4) AS im,
           ROUND(sqrt(CAST(re AS DOUBLE) * CAST(re AS DOUBLE)
                      + CAST(im AS DOUBLE) * CAST(im AS DOUBLE)), 4)
               AS amplitude
    FROM sums
    """,
)
def events_fourier_weekly_harmonics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    d = F.datediff(F.col("ts").cast("date"), F.lit(_FOURIER_REF))
    daily = (
        events.filter((d >= 0) & (d < FOURIER_N))
        .groupBy(d.alias("d"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    ks = spark.range(1, FOURIER_HARMONICS + 1).select(
        F.col("id").cast("long").alias("k")
    )
    terms = daily.crossJoin(F.broadcast(ks)).select(
        "k",
        "c",
        ((F.col("d") * F.col("k")) % FOURIER_N).alias("p"),
    )
    cos_arr = F.array(
        *[F.lit(x).cast("decimal(12,9)") for x in _COS_T]
    )
    sin_arr = F.array(
        *[F.lit(x).cast("decimal(12,9)") for x in _SIN_T]
    )
    sums = terms.groupBy("k").agg(
        F.sum(
            F.col("c").cast("decimal(20,0)")
            * F.element_at(cos_arr, (F.col("p") + 1).cast("int"))
        ).alias("re"),
        F.sum(
            F.col("c").cast("decimal(20,0)")
            * F.element_at(sin_arr, (F.col("p") + 1).cast("int"))
        ).alias("im"),
    )
    re_d = F.col("re").cast("double")
    im_d = F.col("im").cast("double")
    return sums.select(
        "k",
        F.round(re_d, 4).alias("re"),
        F.round(-im_d, 4).alias("im"),
        F.round(F.sqrt(re_d * re_d + im_d * im_d), 4).alias(
            "amplitude"
        ),
    )


# -- freshness SLA audit: per monitored table, the newest event/order
#    timestamp, its lag against the pipeline reference date, and the
#    SLA verdict -- the first DQ check any warehouse runs.  One
#    min/max aggregation per table (metadata-cheap on parquet
#    statistics at scale); the union output is bounded by the table
#    count.
FRESHNESS_REF = "2024-02-01"
FRESHNESS_SLA_DAYS = {"orders": 12000, "lineitem": 12000, "events": 7}


@query(
    "dq_freshness_sla_audit",
    oracle=f"""
    SELECT 'orders' AS table_name,
           CAST(MAX(o_orderdate) AS DATE) AS newest,
           date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                     DATE '{FRESHNESS_REF}') AS lag_days,
           date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                     DATE '{FRESHNESS_REF}')
               <= {FRESHNESS_SLA_DAYS["orders"]} AS within_sla
    FROM orders
    UNION ALL
    SELECT 'lineitem',
           CAST(MAX(l_shipdate) AS DATE),
           date_diff('day', CAST(MAX(l_shipdate) AS DATE),
                     DATE '{FRESHNESS_REF}'),
           date_diff('day', CAST(MAX(l_shipdate) AS DATE),
                     DATE '{FRESHNESS_REF}')
               <= {FRESHNESS_SLA_DAYS["lineitem"]}
    FROM lineitem
    UNION ALL
    SELECT 'events',
           CAST(MAX(ts) AS DATE),
           date_diff('day', CAST(MAX(ts) AS DATE),
                     DATE '{FRESHNESS_REF}'),
           date_diff('day', CAST(MAX(ts) AS DATE),
                     DATE '{FRESHNESS_REF}')
               <= {FRESHNESS_SLA_DAYS["events"]}
    FROM events
    """,
)
def dq_freshness_sla_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    def one(table: str, col: str) -> DataFrame:
        df = load_table(spark, sf_dir, table)
        newest = F.max(F.col(col).cast("date")).alias("newest")
        agg = df.agg(newest)
        lag = F.datediff(F.lit(FRESHNESS_REF), F.col("newest"))
        return agg.select(
            F.lit(table).alias("table_name"),
            "newest",
            lag.alias("lag_days"),
            (lag <= FRESHNESS_SLA_DAYS[table]).alias("within_sla"),
        )

    return (
        one("orders", "o_orderdate")
        .unionByName(one("lineitem", "l_shipdate"))
        .unionByName(one("events", "ts"))
    )


# -- partition-layout skew profile: row count, share, and deviation
#    per year partition of the orders table, plus the max/mean skew
#    factor every partition-sizing decision starts from.  Bounded
#    output (one row per partition value), exact integer counts.
@query(
    "layout_partition_skew_stats",
    oracle="""
    WITH parts AS (
        SELECT CAST(year(o_orderdate) AS INT) AS part_year,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders GROUP BY part_year
    ),
    tot AS (
        SELECT CAST(SUM(n_rows) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS np,
               CAST(MAX(n_rows) AS BIGINT) AS mx
        FROM parts
    )
    SELECT part_year, n_rows,
           ROUND(CAST(n_rows AS DOUBLE) / t, 6) AS share,
           ROUND(CAST(n_rows AS DOUBLE) * np / t, 4)
               AS rel_to_mean,
           ROUND(CAST(mx AS DOUBLE) * np / t, 4) AS skew_factor
    FROM parts CROSS JOIN tot
    """,
)
def layout_partition_skew_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    parts = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("part_year")
    ).agg(F.count("*").cast("long").alias("n_rows"))
    tot = parts.agg(
        F.sum("n_rows").cast("long").alias("t"),
        F.count("*").cast("long").alias("np"),
        F.max("n_rows").cast("long").alias("mx"),
    )
    j = parts.crossJoin(F.broadcast(tot))
    n = F.col("n_rows").cast("double")
    return j.select(
        "part_year",
        "n_rows",
        F.round(n / F.col("t"), 6).alias("share"),
        F.round(n * F.col("np") / F.col("t"), 4).alias("rel_to_mean"),
        F.round(
            F.col("mx").cast("double") * F.col("np") / F.col("t"), 4
        ).alias("skew_factor"),
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution
# ---------------------------------------------------------------------------
# Multi-touch attribution done properly: user journeys become an
# absorbing Markov chain (channels transient; high-value purchase =
# CONV and journey-end = NULL absorbing), the conversion probability
# from START is the chain's absorption probability, and a channel's
# credit is its REMOVAL EFFECT -- how much conversion drops when
# every transition into that channel is redirected to NULL.  All six
# chains (base + five removals) evaluate TOGETHER: the counts table
# gains a `variant` key and the fixed-point iteration runs
# vectorized over (variant, state) -- a ~40-row table no matter the
# input size, so K iterations cost K joins over KBs.  Exactness: the
# absorption fixed point p <- N p / d iterates in 1e9-scaled
# integers with the all-integer half-up rounding FLOOR((2*num+d)/(2d))
# (numerator/denominator are exact ints; the double quotient's gap
# to any integer is >= 1/(2d) >> ulp, so FLOOR can never misfire),
# making the whole iterative algorithm bit-identical cross-engine.

ATTR_CONV_VALUE = 150  # purchase value > this = conversion
ATTR_CHANNELS = ("click", "view", "signup", "error", "purchase")
ATTR_ITERS = 10
_ATTR_S = 10**9  # probability scale


def _attr_counts_sql() -> str:
    chans = ", ".join(f"('{c}')" for c in ATTR_CHANNELS)
    return f"""evs AS MATERIALIZED (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase'
                         AND value > {ATTR_CONV_VALUE}
                    THEN 'CONV' ELSE event_type END AS st
        FROM events
    ),
    seq AS MATERIALIZED (
        SELECT user_id, st,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM evs
    ),
    firstc AS MATERIALIZED (
        SELECT user_id,
               MIN(CASE WHEN st = 'CONV' THEN rn END) AS fc
        FROM seq GROUP BY user_id
    ),
    kept AS MATERIALIZED (
        SELECT s.user_id, s.rn, s.st,
               LEAD(s.st) OVER (PARTITION BY s.user_id
                                ORDER BY s.rn) AS nxt
        FROM seq s JOIN firstc f ON f.user_id = s.user_id
        WHERE f.fc IS NULL OR s.rn <= f.fc
    ),
    trans AS MATERIALIZED (
        SELECT 'start' AS s, st AS t FROM kept WHERE rn = 1
        UNION ALL
        SELECT st, COALESCE(nxt, 'NULL') FROM kept
        WHERE st <> 'CONV'
    ),
    counts AS MATERIALIZED (
        SELECT s, t, CAST(COUNT(*) AS BIGINT) AS n
        FROM trans GROUP BY s, t
    ),
    variants AS MATERIALIZED (
        SELECT 'base' AS variant
        UNION ALL SELECT ch FROM (VALUES {chans}) x(ch)
    ),
    vc AS MATERIALIZED (
        SELECT v.variant, c.s,
               CASE WHEN c.t = v.variant THEN 'NULL' ELSE c.t END
                   AS t,
               CAST(SUM(c.n) AS BIGINT) AS n
        FROM counts c CROSS JOIN variants v
        GROUP BY 1, 2, 3
    ),
    rowtot AS MATERIALIZED (
        SELECT variant, s, CAST(SUM(n) AS BIGINT) AS d
        FROM vc GROUP BY 1, 2
    )"""


def _attr_iter_sql(k: int) -> str:
    p = f"p{k - 1}"
    return f"""p{k} AS MATERIALIZED (
        SELECT vc.variant, vc.s,
               CAST(FLOOR((2 * SUM(vc.n *
                       CASE WHEN vc.t = 'CONV' THEN {_ATTR_S}
                            WHEN vc.t = 'NULL' THEN 0
                            ELSE COALESCE(pp.p, 0) END) + rt.d)
                     / (2.0 * rt.d)) AS BIGINT) AS p
        FROM vc
        JOIN rowtot rt ON rt.variant = vc.variant AND rt.s = vc.s
        LEFT JOIN {p} pp
          ON pp.variant = vc.variant AND pp.s = vc.t
        GROUP BY vc.variant, vc.s, rt.d
    )"""


def _attr_oracle() -> str:
    ctes = [_attr_counts_sql()]
    ctes.append("""p0 AS MATERIALIZED (
        SELECT variant, s, CAST(0 AS BIGINT) AS p FROM rowtot
    )""")
    for k in range(1, ATTR_ITERS + 1):
        ctes.append(_attr_iter_sql(k))
    K = ATTR_ITERS
    chans = ", ".join(f"'{c}'" for c in ATTR_CHANNELS)
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    starts AS MATERIALIZED (
        SELECT variant, p FROM p{K} WHERE s = 'start'
    ),
    eff AS MATERIALIZED (
        SELECT s.variant AS channel,
               b.p AS base_p, s.p AS removal_p,
               b.p - s.p AS effect
        FROM starts s
        CROSS JOIN (SELECT p FROM starts WHERE variant = 'base') b
        WHERE s.variant IN ({chans})
    ),
    tot AS (SELECT SUM(effect) AS te FROM eff)
    SELECT channel,
           ROUND(CAST(base_p AS DOUBLE) / {_ATTR_S}, 6)
               AS base_conversion,
           ROUND(CAST(removal_p AS DOUBLE) / {_ATTR_S}, 6)
               AS removal_conversion,
           ROUND(CAST(effect AS DOUBLE) / {_ATTR_S}, 6)
               AS removal_effect,
           ROUND(CAST(effect AS DOUBLE) / NULLIF(CAST(te AS DOUBLE),
                                                 0), 6)
               AS attribution_share
    FROM eff CROSS JOIN tot
    """


@query("events_attribution_markov", oracle=_attr_oracle())
def events_attribution_markov(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    evs = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("value") > ATTR_CONV_VALUE),
            "CONV",
        )
        .otherwise(F.col("event_type"))
        .alias("st"),
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = evs.withColumn("rn", F.row_number().over(wo))
    firstc = seq.groupBy("user_id").agg(
        F.min(F.when(F.col("st") == "CONV", F.col("rn"))).alias("fc")
    )
    kept = (
        seq.join(firstc, "user_id")
        .filter(F.col("fc").isNull() | (F.col("rn") <= F.col("fc")))
        .withColumn(
            "nxt",
            F.lead("st").over(
                Window.partitionBy("user_id").orderBy("rn")
            ),
        )
    )
    trans = kept.filter(F.col("rn") == 1).select(
        F.lit("start").alias("s"), F.col("st").alias("t")
    ).unionByName(
        kept.filter(F.col("st") != "CONV").select(
            F.col("st").alias("s"),
            F.coalesce(F.col("nxt"), F.lit("NULL")).alias("t"),
        )
    )
    counts = trans.groupBy("s", "t").agg(
        F.count("*").cast("long").alias("n")
    )
    variants = local_df(
        spark,
        [("base",)] + [(c,) for c in ATTR_CHANNELS],
        "variant string",
    )
    vc = (
        counts.crossJoin(F.broadcast(variants))
        .select(
            "variant",
            "s",
            F.when(F.col("t") == F.col("variant"), "NULL")
            .otherwise(F.col("t"))
            .alias("t"),
            "n",
        )
        .groupBy("variant", "s", "t")
        .agg(F.sum("n").cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    rowtot = vc.groupBy("variant", "s").agg(
        F.sum("n").cast("long").alias("d")
    ).localCheckpoint(eager=True)
    p = rowtot.select(
        "variant", "s", F.lit(0).cast("long").alias("p")
    )
    for _ in range(ATTR_ITERS):
        pp = p.select(
            F.col("variant").alias("pv"),
            F.col("s").alias("ps"),
            F.col("p").alias("pval"),
        )
        contrib = vc.join(
            pp,
            (F.col("variant") == F.col("pv"))
            & (F.col("t") == F.col("ps")),
            "left",
        ).select(
            "variant",
            "s",
            (
                F.col("n")
                * F.when(F.col("t") == "CONV", _ATTR_S)
                .when(F.col("t") == "NULL", 0)
                .otherwise(F.coalesce(F.col("pval"), F.lit(0)))
            ).alias("np"),
        )
        p = (
            contrib.groupBy("variant", "s")
            .agg(F.sum("np").alias("num"))
            .join(rowtot, ["variant", "s"])
            .select(
                "variant",
                "s",
                F.floor(
                    (2 * F.col("num") + F.col("d"))
                    / (2.0 * F.col("d"))
                )
                .cast("long")
                .alias("p"),
            )
            .localCheckpoint(eager=True)
        )
    starts = p.filter(F.col("s") == "start").select("variant", "p")
    base = starts.filter(F.col("variant") == "base").select(
        F.col("p").alias("base_p")
    )
    eff = (
        starts.filter(F.col("variant") != "base")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("variant").alias("channel"),
            "base_p",
            F.col("p").alias("removal_p"),
            (F.col("base_p") - F.col("p")).alias("effect"),
        )
    )
    tot = eff.agg(F.sum("effect").alias("te"))
    return eff.crossJoin(F.broadcast(tot)).select(
        "channel",
        F.round(F.col("base_p").cast("double") / _ATTR_S, 6).alias(
            "base_conversion"
        ),
        F.round(
            F.col("removal_p").cast("double") / _ATTR_S, 6
        ).alias("removal_conversion"),
        F.round(F.col("effect").cast("double") / _ATTR_S, 6).alias(
            "removal_effect"
        ),
        F.round(
            F.col("effect").cast("double")
            / F.nullif(F.col("te").cast("double"), F.lit(0.0)),
            6,
        ).alias("attribution_share"),
    )


# -- two-sample Poisson rate test: compares the first and last week's
#    event arrival rates per type (the release-regression check).
#    Counts and exposure windows are exact integers; the z statistic
#    is one fixed double expression (normal approximation to the
#    rate difference).  One aggregation, bounded output.
@query(
    "events_poisson_rate_test",
    oracle="""
    WITH r AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN CAST(ts AS DATE)
                                  < DATE '2024-01-08'
                             THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN CAST(ts AS DATE)
                                  >= DATE '2024-01-24'
                             THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM events GROUP BY event_type
    )
    SELECT event_type, c1, c2,
           ROUND(CAST(c1 AS DOUBLE) / 7, 4) AS rate_per_day_w1,
           ROUND(CAST(c2 AS DOUBLE) / 7, 4) AS rate_per_day_w4,
           ROUND((CAST(c1 AS DOUBLE) / 7 - CAST(c2 AS DOUBLE) / 7)
                 / NULLIF(sqrt(CAST(c1 AS DOUBLE) / 49
                               + CAST(c2 AS DOUBLE) / 49), 0), 4)
               AS z_score
    FROM r
    """,
)
def events_poisson_rate_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    r = events.groupBy("event_type").agg(
        F.sum(F.when(day < "2024-01-08", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(day >= "2024-01-24", 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    c1, c2 = F.col("c1").cast("double"), F.col("c2").cast("double")
    z = (c1 / 7 - c2 / 7) / F.nullif(
        F.sqrt(c1 / 49 + c2 / 49), F.lit(0.0)
    )
    return r.select(
        "event_type",
        "c1",
        "c2",
        F.round(c1 / 7, 4).alias("rate_per_day_w1"),
        F.round(c2 / 7, 4).alias("rate_per_day_w4"),
        F.round(z, 4).alias("z_score"),
    )


# -- newsvendor stocking quantile: the classic OR rule -- stock the
#    critical-ratio percentile of daily demand, q* = cu/(cu+co).
#    Daily demand is the bounded per-day order count; the exact
#    percentile interpolates between two integers ((1-g)*a + g*b with
#    g a small rational -- identical fixed expression both engines).
NEWSVENDOR_UNDERAGE = 4  # lost margin per unit short
NEWSVENDOR_OVERAGE = 1  # holding cost per unit over


@query(
    "orders_newsvendor_quantile",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS demand
        FROM orders GROUP BY day
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MIN(demand) AS BIGINT) AS min_demand,
           CAST(MAX(demand) AS BIGINT) AS max_demand,
           CAST({NEWSVENDOR_UNDERAGE / (NEWSVENDOR_UNDERAGE + NEWSVENDOR_OVERAGE)!r}
                AS DOUBLE) AS critical_ratio,
           ROUND(quantile_cont(demand,
               {NEWSVENDOR_UNDERAGE / (NEWSVENDOR_UNDERAGE + NEWSVENDOR_OVERAGE)!r}), 4)
               AS stock_level
    FROM daily
    """,
)
def orders_newsvendor_quantile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    q = NEWSVENDOR_UNDERAGE / (
        NEWSVENDOR_UNDERAGE + NEWSVENDOR_OVERAGE
    )
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count("*").alias("demand"))
    return daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.min("demand").cast("long").alias("min_demand"),
        F.max("demand").cast("long").alias("max_demand"),
        F.lit(q).alias("critical_ratio"),
        F.round(F.percentile(F.col("demand"), F.lit(q)), 4).alias(
            "stock_level"
        ),
    )


# -- duplicate-payment audit: the finance DQ sweep for suspiciously
#    similar payments -- same customer, amounts in the same 10k-dollar
#    band, DIFFERENT order, dates within 90 days.  (Exact-amount
#    matching is vacuous on continuous synthetic prices; the band is
#    the realistic fuzzy-match blocking anyway.)  The pair join
#    blocks on the (customer, amount-band) hash equi-join key with
#    the date proximity as a post-key filter and a < tie-break so
#    each pair reports once; candidate groups stay bounded at any
#    scale, no inequality join, no cross product.
@query(
    "dq_duplicate_payment_audit",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) // 1000000
                   AS band,
               CAST(o_orderdate AS DATE) AS d
        FROM orders
    )
    SELECT a.o_custkey AS custkey, a.band,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           a.cents AS cents_a, b.cents AS cents_b,
           date_diff('day', a.d, b.d) AS days_apart
    FROM o a JOIN o b
      ON b.o_custkey = a.o_custkey AND b.band = a.band
     AND b.o_orderkey > a.o_orderkey
     AND abs(date_diff('day', a.d, b.d)) <= 90
    """,
)
def dq_duplicate_payment_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        _cents(F.col("o_totalprice")).alias("cents"),
        F.floor(_cents(F.col("o_totalprice")) / 1000000)
        .cast("long")
        .alias("band"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("band"),
        F.col("o_orderkey").alias("order_a"),
        F.col("cents").alias("cents_a"),
        F.col("d").alias("da"),
    )
    b = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("band"),
        F.col("o_orderkey").alias("order_b"),
        F.col("cents").alias("cents_b"),
        F.col("d").alias("db"),
    )
    pairs = a.join(b, ["custkey", "band"]).filter(
        (F.col("order_b") > F.col("order_a"))
        & (
            F.abs(F.datediff(F.col("db"), F.col("da"))) <= 90
        )
    )
    return pairs.select(
        "custkey",
        "band",
        "order_a",
        "order_b",
        "cents_a",
        "cents_b",
        F.datediff(F.col("db"), F.col("da")).alias("days_apart"),
    )


from .ml import BIAS as _ECE_BIAS  # noqa: E402
from .ml import EMB_DIM as _ECE_EMB_DIM  # noqa: E402
from .ml import _W_SQL as _ECE_W_SQL  # noqa: E402


# -- expected calibration error: one number summarizing the
#    calibration-bins table (ml_calibration_bins).  Margins map to a
#    declared probability via the clamped linear (margin+5)/10; per
#    bin the |accuracy - confidence| term is computed from EXACT
#    integer micro-unit numerators over a COMMON denominator, so the
#    weighted sum across bins is a single exact integer total -- no
#    per-bin double is ever summed (10-row double sums are partition-
#    order-dependent; the integer total is not).
@query(
    "ml_calibration_ece",
    oracle=f"""
    WITH m AS (
        SELECT label % 2 = 1 AS pos,
               list_sum(list_transform(
                   generate_series(1, {_ECE_EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_ECE_W_SQL})[i]
               )) + {_ECE_BIAS!r} AS margin
        FROM embeddings
    ),
    b AS (
        SELECT CAST(LEAST(GREATEST(FLOOR(margin + 5), 0), 9) AS INT)
                   AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
                   AS p,
               CAST(SUM(CAST(ROUND(
                   LEAST(GREATEST((margin + 5) / 10, 0), 1) * 1000000
               ) AS BIGINT)) AS BIGINT) AS conf_micro
        FROM m GROUP BY 1
    ),
    t AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(ABS(p * 1000000 - conf_micro)) AS BIGINT)
                   AS total_micro
        FROM b
    )
    SELECT nt AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_bins,
           ROUND(CAST(total_micro AS DOUBLE) / nt / 1000000, 6)
               AS ece
    FROM t
    """,
)
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ml import BIAS, EMB_DIM, WEIGHTS

    emb = load_table(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(x) for x in WEIGHTS])
    prod = F.zip_with(
        F.col("embedding"), w, lambda x, wi: x.cast("double") * wi
    )
    margin = (
        F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v) + BIAS
    )
    conf = F.least(
        F.greatest((margin + 5) / 10, F.lit(0.0)), F.lit(1.0)
    )
    scored = emb.select(
        F.least(F.greatest(F.floor(margin + 5), F.lit(0)), F.lit(9))
        .cast("int")
        .alias("bin"),
        (F.col("label") % 2 == 1).alias("pos"),
        F.round(conf * 1000000).cast("long").alias("conf_micro"),
    )
    b = scored.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("long")
        .alias("p"),
        F.sum("conf_micro").cast("long").alias("cm"),
    )
    t = b.agg(
        F.sum("n").cast("long").alias("nt"),
        F.count("*").cast("long").alias("n_bins"),
        F.sum(F.abs(F.col("p") * 1000000 - F.col("cm")))
        .cast("long")
        .alias("total_micro"),
    )
    return t.select(
        F.col("nt").alias("n_rows"),
        "n_bins",
        F.round(
            F.col("total_micro").cast("double")
            / F.col("nt")
            / 1000000,
            6,
        ).alias("ece"),
    )


# -- DAU/WAU stickiness: daily active users over trailing-7-day
#    active users, the product-analytics engagement ratio.  The
#    sliding DISTINCT count uses the bounded-explode trick: each
#    (user, active-day) row contributes itself to the 7 target days
#    it can serve, and the per-target distinct count is an exact
#    grouped COUNT(DISTINCT) over equi-join keys -- no window over a
#    distinct aggregate (which Spark cannot express) and no
#    inequality join.
@query(
    "events_stickiness_dau_wau",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS d
        FROM events
    ),
    contrib AS (
        SELECT ud.user_id, ud.d + off AS target
        FROM ud CROSS JOIN generate_series(0, 6) g(off)
    ),
    wau AS (
        SELECT c.target AS d,
               CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
        FROM contrib c
        JOIN (SELECT DISTINCT d FROM ud) t ON t.d = c.target
        GROUP BY c.target
    ),
    dau AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d
    )
    SELECT CAST(DATE '2024-01-01' + INTERVAL (dau.d) DAY AS DATE)
               AS day,
           dau.dau, wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON wau.d = dau.d
    """,
)
def events_stickiness_dau_wau(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("long")
        .alias("d"),
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.col("d") + 6)
        ).alias("target"),
    )
    days = ud.select("d").distinct().select(
        F.col("d").alias("target")
    )
    wau = (
        contrib.join(days, "target")
        .groupBy("target")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    dau = ud.groupBy("d").agg(
        F.count("*").cast("long").alias("dau")
    )
    j = dau.join(wau, dau["d"] == wau["target"])
    return j.select(
        F.date_add(F.lit("2024-01-01"), F.col("d").cast("int")).alias(
            "day"
        ),
        "dau",
        "wau",
        F.round(
            F.col("dau").cast("double") / F.col("wau"), 6
        ).alias("stickiness"),
    )


# -- additive seasonal decomposition (classical): daily revenue minus
#    its CENTERED 7-day moving average gives the detrended series;
#    averaging the detrended values by weekday gives the seasonal
#    component.  Exactness: the detrended value is kept as the
#    INTEGER 7*y - sum7 (never the fractional y - sum7/7), so every
#    aggregate sums exact integers and only the final display
#    divisions touch doubles.  Edge days without a full centered
#    window are excluded, as in the classical method.
@query(
    "orders_seasonal_decomposition",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               dayofweek(CAST(o_orderdate AS DATE)) AS dow,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY d, dow
    ),
    ma AS (
        SELECT d, dow, y,
               CAST(SUM(y) OVER w AS BIGINT) AS sum7,
               CAST(COUNT(*) OVER w AS BIGINT) AS n7
        FROM daily
        WINDOW w AS (ORDER BY d RANGE BETWEEN 3 PRECEDING
                     AND 3 FOLLOWING)
    ),
    det AS (
        SELECT dow, 7 * y - sum7 AS det7
        FROM ma WHERE n7 = 7
    )
    SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(det7) AS DOUBLE) / COUNT(*) / 700, 4)
               AS seasonal_component,
           ROUND(CAST(SUM(ABS(det7)) AS DOUBLE) / COUNT(*) / 700, 4)
               AS mean_abs_detrended
    FROM det GROUP BY dow
    """,
)
def orders_seasonal_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
        .cast("long")
        .alias("d"),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias(
            "dow"
        ),
    ).agg(F.sum(_cents(F.col("o_totalprice"))).alias("y"))
    w = Window.orderBy("d").rangeBetween(-3, 3)
    ma = daily.select(
        "dow",
        "y",
        F.sum("y").over(w).cast("long").alias("sum7"),
        F.count("*").over(w).cast("long").alias("n7"),
    )
    det = ma.filter(F.col("n7") == 7).select(
        "dow", (7 * F.col("y") - F.col("sum7")).alias("det7")
    )
    return det.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(
            F.sum("det7").cast("double") / F.count("*") / 700, 4
        ).alias("seasonal_component"),
        F.round(
            F.sum(F.abs(F.col("det7"))).cast("double")
            / F.count("*")
            / 700,
            4,
        ).alias("mean_abs_detrended"),
    )


# -- lexical diversity (type-token ratio): distinct tokens over total
#    tokens per document, plus the hapax share -- corpus-quality
#    signals a curation pipeline reads beside the Gopher-style
#    repetition stats.  One explode + two grouped counts; ratios are
#    exact-integer divisions.
@query(
    "text_lexical_diversity_ttr",
    oracle="""
    WITH t AS (
        SELECT doc_id, unnest(string_split(lower(
                   regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')),
                   ' ')) AS tok
        FROM documents
    ),
    tt AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
    c AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
        FROM tt GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(n), 6) AS ttr,
           ROUND(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS hapax_share
    FROM c GROUP BY doc_id
    """,
)
def text_lexical_diversity_ttr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(
                F.lower(
                    F.regexp_replace(
                        F.col("text"), "[^a-zA-Z0-9 ]", " "
                    )
                ),
                " ",
            )
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    c = toks.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("n")
    )
    return c.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.round(
            F.count("*").cast("double") / F.sum("n"), 6
        ).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("hapax_share"),
    )


# -- log-decade histogram: power-law-friendly binning of order value
#    WITHOUT any log() call -- the decade of a positive integer is
#    its digit count, so the bin is LENGTH(CAST(cents AS VARCHAR)),
#    exact in both engines.  Bounded output (one row per decade).
@query(
    "agg_histogram_decade_bins",
    oracle="""
    WITH r AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(LENGTH(CAST(cents AS VARCHAR)) AS INT) AS decade,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM r GROUP BY decade
    """,
)
def agg_histogram_decade_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    r = orders.select(_cents(F.col("o_totalprice")).alias("cents"))
    return r.groupBy(
        F.length(F.col("cents").cast("string"))
        .cast("int")
        .alias("decade")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Mutual information between two categorical dimensions
# ---------------------------------------------------------------------------
# Feature-dependence screening (the warehouse-side "are these two
# columns redundant?" question a feature store asks before training):
# I(X;Y) = SUM_ij p_ij * ln(p_ij / (p_i * p_j)) over the
# priority x status contingency table, plus the marginal entropies
# H(X), H(Y) so the caller can normalize (NMI).  The reference stores
# raw order attributes only (src/app/api/companies/route.ts); this is
# the dependence layer on top.
#
# Exactness: the contingency table is exact integer counts from ONE
# map-side-combinable groupBy; probabilities are integer ratios over
# the exact total; ln() is applied once per cell of a BOUNDED table
# (<= |X|x|Y| cells) to identical doubles in both engines, and each
# final sum runs over that bounded table -- the same discipline as
# events_user_entropy / ml_woe_iv.  Scale: the raw scan reduces to
# the contingency table in one pass; everything after is O(cells).
@query(
    "ml_mutual_information",
    oracle="""
    WITH c AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY x, y
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM c),
    mx AS (SELECT x, CAST(SUM(n) AS DOUBLE) AS nx FROM c GROUP BY x),
    my AS (SELECT y, CAST(SUM(n) AS DOUBLE) AS ny FROM c GROUP BY y),
    mi AS (
        SELECT ROUND(SUM((c.n / tot.t)
                   * ln((c.n / tot.t)
                        / ((mx.nx / tot.t) * (my.ny / tot.t)))), 6)
                   AS mi_nats,
               CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    ),
    hx AS (
        SELECT ROUND(-SUM((nx / tot.t) * ln(nx / tot.t)), 6) AS h_x
        FROM mx CROSS JOIN tot
    ),
    hy AS (
        SELECT ROUND(-SUM((ny / tot.t) * ln(ny / tot.t)), 6) AS h_y
        FROM my CROSS JOIN tot
    )
    SELECT mi_nats, n_cells, h_x, h_y
    FROM mi CROSS JOIN hx CROSS JOIN hy
    """,
)
def ml_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    c = (
        orders.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count("*").cast("long").alias("n"))
        .cache()  # bounded cell table read by tot/mx/my and the join
    )
    tot = c.agg(F.sum("n").cast("double").alias("t"))
    mx = c.groupBy("x").agg(F.sum("n").cast("double").alias("nx"))
    my = c.groupBy("y").agg(F.sum("n").cast("double").alias("ny"))
    joined = (
        c.join(mx, "x")
        .join(my, "y")
        .crossJoin(F.broadcast(tot))
    )
    pij = F.col("n") / F.col("t")
    px = F.col("nx") / F.col("t")
    py = F.col("ny") / F.col("t")
    mi = joined.agg(
        F.round(F.sum(pij * F.log(pij / (px * py))), 6).alias(
            "mi_nats"
        ),
        F.count("*").cast("long").alias("n_cells"),
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        F.round(-F.sum(px * F.log(px)), 6).alias("h_x")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        F.round(-F.sum(py * F.log(py)), 6).alias("h_y")
    )
    return mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))


# ---------------------------------------------------------------------------
# Welch two-sample t-test (unequal variances)
# ---------------------------------------------------------------------------
# The means-comparison companion to ml_ab_test_ztest (proportions):
# do urgent-priority orders have a different mean value than low-
# priority ones?  Welch's t with the Satterthwaite degrees of
# freedom.  Group moments are exact integer cent sums (count, sum,
# sum of squares -- sum-sq of cents fits DECIMAL(38,0) far beyond
# 100 TB row counts); t and df are one fixed double expression over
# the six exact moments, so both engines agree bit-for-bit.
@query(
    "ml_ttest_welch",
    oracle="""
    WITH g AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 'hi' ELSE 'lo' END AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    m AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(CAST(cents AS DECIMAL(38,0))
                        * CAST(cents AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS ss
        FROM g GROUP BY grp
    ),
    w AS (
        SELECT
            MAX(CASE WHEN grp = 'hi' THEN n END) AS n1,
            MAX(CASE WHEN grp = 'hi' THEN s END) AS s1,
            MAX(CASE WHEN grp = 'hi' THEN ss END) AS ss1,
            MAX(CASE WHEN grp = 'lo' THEN n END) AS n2,
            MAX(CASE WHEN grp = 'lo' THEN s END) AS s2,
            MAX(CASE WHEN grp = 'lo' THEN ss END) AS ss2
        FROM m
    ),
    v AS (
        SELECT n1, n2,
               CAST(s1 AS DOUBLE) / n1 AS m1,
               CAST(s2 AS DOUBLE) / n2 AS m2,
               (CAST(ss1 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
               (CAST(ss2 AS DOUBLE)
                - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) AS v2
        FROM w
    )
    SELECT n1, n2,
           ROUND(m1 / 100, 6) AS mean_hi,
           ROUND(m2 / 100, 6) AS mean_lo,
           ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6) AS t_stat,
           ROUND(POWER(v1 / n1 + v2 / n2, 2)
                 / (POWER(v1 / n1, 2) / (n1 - 1)
                    + POWER(v2 / n2, 2) / (n2 - 1)), 2) AS df_welch
    FROM v
    """,
)
def ml_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = orders.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            "hi",
        )
        .otherwise("lo")
        .alias("grp"),
        cents.alias("cents"),
    )
    m = g.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    w = m.agg(
        *[
            F.max(F.when(F.col("grp") == gname, F.col(c))).alias(
                f"{c}{i}"
            )
            for i, gname in ((1, "hi"), (2, "lo"))
            for c in ("n", "s", "ss")
        ]
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    v1 = (
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    ) / (F.col("n1") - 1)
    v2 = (
        F.col("ss2").cast("double")
        - F.col("s2").cast("double") * F.col("s2") / F.col("n2")
    ) / (F.col("n2") - 1)
    se2_1 = v1 / F.col("n1")
    se2_2 = v2 / F.col("n2")
    return w.select(
        "n1",
        "n2",
        F.round(m1 / 100, 6).alias("mean_hi"),
        F.round(m2 / 100, 6).alias("mean_lo"),
        F.round((m1 - m2) / F.sqrt(se2_1 + se2_2), 6).alias(
            "t_stat"
        ),
        F.round(
            F.pow(se2_1 + se2_2, 2)
            / (
                F.pow(se2_1, 2) / (F.col("n1") - 1)
                + F.pow(se2_2, 2) / (F.col("n2") - 1)
            ),
            2,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation of two event series
# ---------------------------------------------------------------------------
# Does click volume LEAD purchase volume?  Pearson correlation
# between the daily click series and the purchase series shifted by
# each lag in -7..+7 -- the cross-correlation function behind
# lead/lag discovery (events_autocorrelation is the single-series
# case).  Day counts are exact integers over a ZERO-FILLED dense day
# range (a missing day is a 0-count day, not an absent row -- else
# lags misalign); all five moments per lag are exact long sums, and
# the correlation is one fixed double expression per lag row.
XCORR_MAX_LAG = 7


@query(
    "events_xcorr_click_purchase",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        FROM events
    ),
    days AS (
        SELECT UNNEST(generate_series(0,
                   datediff('day', d0, d1))) AS d
        FROM bounds
    ),
    counts AS (
        SELECT datediff('day', bounds.d0, CAST(ts AS DATE)) AS d,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events CROSS JOIN bounds
        GROUP BY 1
    ),
    series AS (
        SELECT days.d, COALESCE(counts.x, 0) AS x,
               COALESCE(counts.y, 0) AS y
        FROM days LEFT JOIN counts USING (d)
    ),
    lags AS (SELECT UNNEST(generate_series(-{XCORR_MAX_LAG},
                                           {XCORR_MAX_LAG})) AS lag),
    paired AS (
        SELECT l.lag, a.x, b.y
        FROM lags l
        JOIN series a ON TRUE
        JOIN series b ON b.d = a.d + l.lag
    ),
    mom AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM paired GROUP BY lag
    )
    SELECT lag, n AS n_days,
           ROUND((n * sxy - sx * sy)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * (n * syy - sy * sy)), 6) AS xcorr
    FROM mom
    """,
)
def events_xcorr_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    days = bounds.select(
        F.explode(
            F.sequence(F.lit(0), F.datediff("d1", "d0"))
        ).alias("d")
    )
    counts = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.datediff(F.to_date("ts"), F.col("d0")).alias("d")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    series = (
        days.join(counts, "d", "left")
        .select(
            "d",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
        .cache()  # joined twice (both sides of the lag pairing)
    )
    lags = spark.range(
        -XCORR_MAX_LAG, XCORR_MAX_LAG + 1
    ).withColumnRenamed("id", "lag")
    a = series.select(F.col("d").alias("da"), F.col("x"))
    b = series.select(F.col("d").alias("db"), F.col("y"))
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
    )
    mom = paired.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return mom.select(
        "lag",
        n.alias("n_days"),
        F.round(num / den, 6).alias("xcorr"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences estimator
# ---------------------------------------------------------------------------
# The workhorse quasi-experimental design: did BUILDING-segment
# customers' mean order value move differently after the cutover
# date than everyone else's?  DiD = (post_T - pre_T) - (post_C -
# pre_C) over the four (group x period) cell means.  Complements
# ml_ab_test_ztest (randomized) with the observational design.
# Exactness: four exact (count, cent-sum) cells from ONE map-side-
# combinable pass; each mean is one double division and the
# estimator is one fixed expression over the four.
DID_CUTOVER = "1998-01-01"


@query(
    "orders_diff_in_diff",
    oracle=f"""
    WITH g AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING'
                    THEN 1 ELSE 0 END AS treated,
               CASE WHEN CAST(o.o_orderdate AS DATE)
                         >= DATE '{DID_CUTOVER}'
                    THEN 1 ELSE 0 END AS post,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
        SELECT treated, post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s
        FROM g GROUP BY treated, post
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN treated = 1 AND post = 0
                     THEN CAST(s AS DOUBLE) / n END) AS pre_t,
            MAX(CASE WHEN treated = 1 AND post = 1
                     THEN CAST(s AS DOUBLE) / n END) AS post_t,
            MAX(CASE WHEN treated = 0 AND post = 0
                     THEN CAST(s AS DOUBLE) / n END) AS pre_c,
            MAX(CASE WHEN treated = 0 AND post = 1
                     THEN CAST(s AS DOUBLE) / n END) AS post_c,
            CAST(SUM(n) AS BIGINT) AS n_orders
        FROM cells
    )
    SELECT n_orders,
           ROUND(pre_t / 100, 6) AS pre_treated,
           ROUND(post_t / 100, 6) AS post_treated,
           ROUND(pre_c / 100, 6) AS pre_control,
           ROUND(post_c / 100, 6) AS post_control,
           ROUND(((post_t - pre_t) - (post_c - pre_c)) / 100, 6)
               AS did_estimate
    FROM wide
    """,
)
def orders_diff_in_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    g = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).select(
        (F.col("c_mktsegment") == "BUILDING")
        .cast("int")
        .alias("treated"),
        (
            F.to_date("o_orderdate")
            >= F.lit(DID_CUTOVER).cast("date")
        )
        .cast("int")
        .alias("post"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    cells = g.groupBy("treated", "post").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )

    def cell(t, p):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("s").cast("double") / F.col("n"),
            )
        )

    wide = cells.agg(
        cell(1, 0).alias("pre_t"),
        cell(1, 1).alias("post_t"),
        cell(0, 0).alias("pre_c"),
        cell(0, 1).alias("post_c"),
        F.sum("n").cast("long").alias("n_orders"),
    )
    return wide.select(
        "n_orders",
        F.round(F.col("pre_t") / 100, 6).alias("pre_treated"),
        F.round(F.col("post_t") / 100, 6).alias("post_treated"),
        F.round(F.col("pre_c") / 100, 6).alias("pre_control"),
        F.round(F.col("post_c") / 100, 6).alias("post_control"),
        F.round(
            (
                (F.col("post_t") - F.col("pre_t"))
                - (F.col("post_c") - F.col("pre_c"))
            )
            / 100,
            6,
        ).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) test with tie correction
# ---------------------------------------------------------------------------
# The nonparametric companion to ml_ttest_welch on the SAME hi/lo
# priority split: does the hi-priority order-value DISTRIBUTION
# stochastically dominate, without assuming normality?  Ranks are
# midranks over tied cent values; keeping 2*midrank = 2*cum_before +
# t + 1 makes every rank quantity an exact integer, so U and the
# tie-corrected normal approximation
#     z = (U - n1*n2/2) / sqrt(n1*n2/12 * ((n+1) - T/(n(n-1))))
# with T = sum(t^3 - t) are ONE double expression over exact longs
# (no continuity correction -- both engines evaluate the identical
# expression).  The cumulative count runs over DISTINCT cent values
# through the two-pass prefix_scan (r11): totalprice cents are
# near-unique, so the distinct-value table is row-scale and a bare
# global window would be one WindowExec task; the scan shuffles on
# a $21k price band and the only global window is the per-band count
# prefix (bounded by the price domain).
@query(
    "ml_mann_whitney_u",
    oracle="""
    WITH g AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS hi,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    byval AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(hi) AS BIGINT) AS t_hi
        FROM g GROUP BY cents
    ),
    ranked AS (
        SELECT t, t_hi,
               CAST(SUM(t) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) - t AS cum_before
        FROM byval
    ),
    s AS (
        SELECT CAST(SUM(t_hi) AS BIGINT) AS n1,
               CAST(SUM(t - t_hi) AS BIGINT) AS n2,
               CAST(SUM(t) AS BIGINT) AS n,
               CAST(SUM(t_hi * (2 * cum_before + t + 1)) AS BIGINT)
                   AS two_r1,
               CAST(SUM(t * t * t - t) AS BIGINT) AS ties,
               CAST(SUM(CASE WHEN t > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tie_values
        FROM ranked
    )
    SELECT n1 AS n_hi, n2 AS n_lo, tie_values,
           ROUND((two_r1 - n1 * (n1 + 1)) / 2.0, 2) AS u_hi,
           ROUND(((two_r1 - n1 * (n1 + 1)) / 2.0 - n1 * n2 / 2.0)
                 / SQRT((n1 * n2 / 12.0)
                        * ((n + 1) - ties / (n * (n - 1.0)))), 6)
               AS z_stat
    FROM s
    """,
)
def ml_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    g = orders.select(
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("hi"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    byval = g.groupBy("cents").agg(
        F.count("*").cast("long").alias("t"),
        F.sum("hi").cast("long").alias("t_hi"),
    )
    ranked = prefix_scan(
        byval,
        F.floor(F.col("cents") / F.lit(1 << 21)),
        ["cents"],
        [("t", "_cum")],
    ).select(
        "t",
        "t_hi",
        (F.col("_cum") - F.col("t")).alias("cum_before"),
    )
    s = ranked.agg(
        F.sum("t_hi").cast("long").alias("n1"),
        F.sum(F.col("t") - F.col("t_hi")).cast("long").alias("n2"),
        F.sum("t").cast("long").alias("n"),
        F.sum(
            F.col("t_hi") * (2 * F.col("cum_before") + F.col("t") + 1)
        )
        .cast("long")
        .alias("two_r1"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("ties"),
        F.sum((F.col("t") > 1).cast("int"))
        .cast("long")
        .alias("tie_values"),
    )
    u_hi = (
        F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)
    ) / 2.0
    mu = F.col("n1") * F.col("n2") / 2.0
    var = (F.col("n1") * F.col("n2") / 12.0) * (
        (F.col("n") + 1)
        - F.col("ties") / (F.col("n") * (F.col("n") - F.lit(1.0)))
    )
    return s.select(
        F.col("n1").alias("n_hi"),
        F.col("n2").alias("n_lo"),
        "tie_values",
        F.round(u_hi, 2).alias("u_hi"),
        F.round((u_hi - mu) / F.sqrt(var), 6).alias("z_stat"),
    )


# Shared dense daily click/purchase series (the events_xcorr
# construction, factored): one row per calendar day in the observed
# span, zero-filled counts -- a missing day is a 0-count day.  The
# day domain is bounded by calendar time, so everything downstream
# of this reduction is scale-free.
_DAILY_XY_SQL = """
    bounds AS (
        SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        FROM events
    ),
    days AS (
        SELECT UNNEST(generate_series(0,
                   datediff('day', d0, d1))) AS d
        FROM bounds
    ),
    counts AS (
        SELECT datediff('day', bounds.d0, CAST(ts AS DATE)) AS d,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events CROSS JOIN bounds
        GROUP BY 1
    ),
    series AS (
        SELECT days.d, COALESCE(counts.x, 0) AS x,
               COALESCE(counts.y, 0) AS y
        FROM days LEFT JOIN counts USING (d)
    )
"""


def _daily_xy_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias(
            "d"
        )
    )
    counts = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy(F.datediff(F.to_date("ts"), F.col("d0")).alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("y"),
        )
    )
    return days.join(counts, "d", "left").select(
        "d",
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation of the daily click/purchase series
# ---------------------------------------------------------------------------
# The rank-based companion to events_xcorr_click_purchase's lag-0
# Pearson: monotone association robust to the heavy right tail of
# daily counts.  Midranks over tied counts are kept as exact
# integers via 2*midrank; Spearman rho is then Pearson on the
# doubled ranks (the factor cancels), i.e. ONE double expression
# over six exact long moments.  Rank assignment is a window over
# DISTINCT count values (bounded by the day domain).
@query(
    "events_rank_corr_spearman",
    oracle=f"""
    WITH {_DAILY_XY_SQL},
    rx AS (
        SELECT x, CAST(2 * (CAST(SUM(t) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) - t) + t + 1 AS BIGINT) AS r2
        FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS t
              FROM series GROUP BY x)
    ),
    ry AS (
        SELECT y, CAST(2 * (CAST(SUM(t) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) - t) + t + 1 AS BIGINT) AS r2
        FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS t
              FROM series GROUP BY y)
    ),
    j AS (
        SELECT rx.r2 AS a, ry.r2 AS b
        FROM series JOIN rx USING (x) JOIN ry USING (y)
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS sx,
               CAST(SUM(b) AS BIGINT) AS sy,
               CAST(SUM(a * b) AS BIGINT) AS sxy,
               CAST(SUM(a * a) AS BIGINT) AS sxx,
               CAST(SUM(b * b) AS BIGINT) AS syy
        FROM j
    )
    SELECT n AS n_days,
           ROUND((n * sxy - sx * sy)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * (n * syy - sy * sy)), 6) AS rho_spearman
    FROM mom
    """,
)
def events_rank_corr_spearman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    series = _daily_xy_series(spark, sf_dir).cache()

    def rank2(col: str) -> DataFrame:
        byval = series.groupBy(col).agg(
            F.count("*").cast("long").alias("t")
        )
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return byval.select(
            col,
            (
                2 * (F.sum("t").over(w).cast("long") - F.col("t"))
                + F.col("t")
                + 1
            )
            .cast("long")
            .alias("r2"),
        )

    rx = rank2("x").withColumnRenamed("r2", "a")
    ry = rank2("y").withColumnRenamed("r2", "b")
    j = series.join(rx, "x").join(ry, "y").select("a", "b")
    mom = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("a").cast("long").alias("sx"),
        F.sum("b").cast("long").alias("sy"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("sxy"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("sxx"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return mom.select(
        n.alias("n_days"),
        F.round(num / den, 6).alias("rho_spearman"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b of the daily click/purchase series
# ---------------------------------------------------------------------------
# The pair-counting view of the same monotone association: tau-b =
# (C - D) / sqrt((n0 - Tx)(n0 - Ty)) over all day pairs, with ties
# handled by the b-correction (Tx = pairs tied on x, Ty = pairs tied
# on y).  Every count is an exact long from ONE pass over the
# day-pair join; the day table is calendar-bounded so the O(days^2)
# pair join is a broadcast self-join that does NOT grow with corpus
# row count.
@query(
    "events_rank_corr_kendall",
    oracle=f"""
    WITH {_DAILY_XY_SQL},
    pairs AS (
        SELECT a.x - b.x AS cx, a.y - b.y AS cy
        FROM series a JOIN series b ON b.d > a.d
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN cx * cy > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN cx * cy < 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS disc,
               CAST(SUM(CASE WHEN cx = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tx,
               CAST(SUM(CASE WHEN cy = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS ty
        FROM pairs
    )
    SELECT n0 AS n_pairs, conc AS concordant, disc AS discordant,
           ROUND((conc - disc)
                 / SQRT(CAST(n0 - tx AS DOUBLE) * (n0 - ty)), 6)
               AS tau_b
    FROM s
    """,
)
def events_rank_corr_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    series = _daily_xy_series(spark, sf_dir)
    a = series.select(
        F.col("d").alias("da"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = series.select(
        F.col("d").alias("db"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("db") > F.col("da")
    ).select(
        (F.col("xa") - F.col("xb")).alias("cx"),
        (F.col("ya") - F.col("yb")).alias("cy"),
    )
    s = pairs.agg(
        F.count("*").cast("long").alias("n0"),
        F.sum((F.col("cx") * F.col("cy") > 0).cast("int"))
        .cast("long")
        .alias("conc"),
        F.sum((F.col("cx") * F.col("cy") < 0).cast("int"))
        .cast("long")
        .alias("disc"),
        F.sum((F.col("cx") == 0).cast("int")).cast("long").alias("tx"),
        F.sum((F.col("cy") == 0).cast("int")).cast("long").alias("ty"),
    )
    return s.select(
        F.col("n0").alias("n_pairs"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.round(
            (F.col("conc") - F.col("disc"))
            / F.sqrt(
                (F.col("n0") - F.col("tx")).cast("double")
                * (F.col("n0") - F.col("ty"))
            ),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA F-test across order priority classes
# ---------------------------------------------------------------------------
# The k-group generalization of ml_ttest_welch's two-group means
# test: does mean order value differ across the FIVE priority
# classes?  Classic fixed-effects one-way ANOVA (equal-variance
# pooling; Welch stays the 2-group tool).  Per-group moments are
# exact integers (count, cent sum, DECIMAL(38,0) cent sum-of-
# squares); the bounded 5-value priority domain pivots to ONE row so
# SSB/SSW are single fixed-order double expressions -- no double
# aggregation in engine-defined order, both engines agree
# bit-for-bit.  100 TB shape: one grouped aggregate over the fact
# table (map-side partial), a 5-row pivot, scalar math.
_ANOVA_GROUPS = (
    ("1-URGENT", 1),
    ("2-HIGH", 2),
    ("3-MEDIUM", 3),
    ("4-NOT SPECIFIED", 4),
    ("5-LOW", 5),
)

_ANOVA_PIVOT_SQL = ",\n               ".join(
    f"MAX(CASE WHEN o_orderpriority = '{g}' THEN {c} END) AS {c}{i}"
    for g, i in _ANOVA_GROUPS
    for c in ("n", "s", "ss")
)
_ANOVA_SSW_SQL = " + ".join(
    f"(CAST(ss{i} AS DOUBLE) - CAST(s{i} AS DOUBLE) * s{i} / n{i})"
    for _, i in _ANOVA_GROUPS
)
_ANOVA_SSB_SQL = (
    " + ".join(
        f"CAST(s{i} AS DOUBLE) * s{i} / n{i}" for _, i in _ANOVA_GROUPS
    )
    + " - CAST(st AS DOUBLE) * st / nt"
)


@query(
    "ml_anova_oneway",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    m AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(CAST(cents AS DECIMAL(38,0))
                        * CAST(cents AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS ss
        FROM g GROUP BY o_orderpriority
    ),
    w AS (
        SELECT {_ANOVA_PIVOT_SQL},
               CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(s) AS BIGINT) AS st
        FROM m
    ),
    f AS (
        SELECT nt,
               {_ANOVA_SSB_SQL} AS ssb,
               {_ANOVA_SSW_SQL} AS ssw
        FROM w
    )
    SELECT nt AS n_total,
           {len(_ANOVA_GROUPS) - 1} AS df_between,
           nt - {len(_ANOVA_GROUPS)} AS df_within,
           ROUND(ssb / 10000, 2) AS ss_between_usd2,
           ROUND(ssw / 10000, 2) AS ss_within_usd2,
           ROUND((ssb / {len(_ANOVA_GROUPS) - 1})
                 / (ssw / (nt - {len(_ANOVA_GROUPS)})), 6) AS f_stat,
           ROUND(ssb / (ssb + ssw), 6) AS eta_squared
    FROM f
    """,
)
def ml_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    k = len(_ANOVA_GROUPS)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    m = (
        orders.select(
            F.col("o_orderpriority"), cents.alias("cents")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
            F.sum(
                F.col("cents").cast("decimal(38,0)")
                * F.col("cents").cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("ss"),
        )
    )
    w = m.agg(
        *[
            F.max(
                F.when(F.col("o_orderpriority") == g, F.col(c))
            ).alias(f"{c}{i}")
            for g, i in _ANOVA_GROUPS
            for c in ("n", "s", "ss")
        ],
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
    )

    def _ssq_over_n(i: int):
        return (
            F.col(f"s{i}").cast("double")
            * F.col(f"s{i}")
            / F.col(f"n{i}")
        )

    # fixed left-to-right addition order mirrors the SQL text exactly
    ssw = None
    ssb = None
    for _, i in _ANOVA_GROUPS:
        term_w = F.col(f"ss{i}").cast("double") - _ssq_over_n(i)
        term_b = _ssq_over_n(i)
        ssw = term_w if ssw is None else ssw + term_w
        ssb = term_b if ssb is None else ssb + term_b
    ssb = ssb - F.col("st").cast("double") * F.col("st") / F.col("nt")
    f = w.select(F.col("nt"), ssb.alias("ssb"), ssw.alias("ssw"))
    return f.select(
        F.col("nt").alias("n_total"),
        F.lit(k - 1).alias("df_between"),
        (F.col("nt") - k).alias("df_within"),
        F.round(F.col("ssb") / 10000, 2).alias("ss_between_usd2"),
        F.round(F.col("ssw") / 10000, 2).alias("ss_within_usd2"),
        F.round(
            (F.col("ssb") / (k - 1))
            / (F.col("ssw") / (F.col("nt") - k)),
            6,
        ).alias("f_stat"),
        F.round(
            F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6
        ).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend of the daily order series
# ---------------------------------------------------------------------------
# The robust alternative to ml_ols_daily_trend's least-squares slope:
# the Theil-Sen estimator is the MEDIAN of all pairwise slopes
# (y_j - y_i) / (d_j - d_i), with ~29% breakdown vs OLS's 0% -- the
# trend you report when the daily series has outlier days.  The
# series is the ZERO-FILLED dense daily order count (a missing day
# is a 0-count day); slopes are exact-long quotients so both engines
# compute identical doubles, and the median is the engines' shared
# exact interpolating percentile (quantile_cont / percentile -- the
# events_value_mad_outliers precedent).  Intercept per Conover:
# median(y) - slope * median(d).  100 TB shape: the fact table
# collapses to the bounded calendar FIRST (one linear grouped agg);
# the O(days^2) pair join is a broadcast self-join over that bounded
# day table, exactly the events_rank_corr_kendall contract -- pair
# count grows with the calendar, never with corpus rows.
@query(
    "orders_theilsen_trend",
    oracle="""
    WITH bounds AS (
        SELECT MIN(o_orderdate) AS d0, MAX(o_orderdate) AS d1
        FROM orders
    ),
    days AS (
        SELECT UNNEST(generate_series(0,
                   datediff('day', d0, d1))) AS d
        FROM bounds
    ),
    counts AS (
        SELECT datediff('day', bounds.d0, o_orderdate) AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders CROSS JOIN bounds
        GROUP BY 1
    ),
    series AS (
        SELECT days.d, COALESCE(counts.y, 0) AS y
        FROM days LEFT JOIN counts USING (d)
    ),
    slopes AS (
        SELECT CAST(b.y - a.y AS DOUBLE) / (b.d - a.d) AS slope
        FROM series a JOIN series b ON b.d > a.d
    ),
    med AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               quantile_cont(slope, 0.5) AS sen_slope
        FROM slopes
    ),
    medxy AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               quantile_cont(CAST(y AS DOUBLE), 0.5) AS med_y,
               quantile_cont(CAST(d AS DOUBLE), 0.5) AS med_d
        FROM series
    )
    SELECT n_days, n_pairs,
           ROUND(sen_slope, 8) AS sen_slope,
           ROUND(med_y - sen_slope * med_d, 6) AS intercept
    FROM med CROSS JOIN medxy
    """,
)
def orders_theilsen_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias(
            "d"
        )
    )
    counts = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.col("d0")).alias(
                "d"
            )
        )
        .agg(F.count("*").cast("long").alias("y"))
    )
    series = (
        days.join(counts, "d", "left")
        .select("d", F.coalesce("y", F.lit(0)).alias("y"))
        .cache()
    )
    a = series.select(
        F.col("d").alias("da"), F.col("y").alias("ya")
    )
    b = series.select(
        F.col("d").alias("db"), F.col("y").alias("yb")
    )
    slopes = a.join(F.broadcast(b), F.col("db") > F.col("da")).select(
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("db") - F.col("da"))
        ).alias("slope")
    )
    med = slopes.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("sen_slope"),
    )
    medxy = series.agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("percentile(CAST(y AS DOUBLE), 0.5)").alias("med_y"),
        F.expr("percentile(CAST(d AS DOUBLE), 0.5)").alias("med_d"),
    )
    return med.crossJoin(F.broadcast(medxy)).select(
        "n_days",
        "n_pairs",
        F.round("sen_slope", 8).alias("sen_slope"),
        F.round(
            F.col("med_y") - F.col("sen_slope") * F.col("med_d"), 6
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene) homogeneity-of-variance test
# ---------------------------------------------------------------------------
# The assumption check behind ml_anova_oneway: are the five priority
# groups' variances equal?  Brown-Forsythe runs the SAME one-way
# ANOVA machinery on z = |x - median_g| (medians, not means -- the
# robust variant).  Exactness trick: with integer cents, the group
# median is integer-or-half, so z doubled -- z2 = |2*cents - 2*med| --
# is an exact LONG, and Levene's W is scale-invariant, so the test
# statistic on z2 equals the one on z while every moment stays an
# exact integer (reusing the _ANOVA_* fixed-order pivot fragments).
# 100 TB shape: one exact-percentile grouped agg (approx_percentile
# at scale, same plan), a 5-row broadcast join of medians back onto
# the fact scan, one grouped moment agg, scalar math.
@query(
    "ml_levene_brown_forsythe",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    med AS (
        SELECT o_orderpriority,
               CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS med2
        FROM g GROUP BY o_orderpriority
    ),
    z AS (
        SELECT g.o_orderpriority,
               ABS(2 * g.cents - med.med2) AS cents
        FROM g JOIN med USING (o_orderpriority)
    ),
    m AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(CAST(cents AS DECIMAL(38,0))
                        * CAST(cents AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS ss
        FROM z GROUP BY o_orderpriority
    ),
    w AS (
        SELECT {_ANOVA_PIVOT_SQL},
               CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(s) AS BIGINT) AS st
        FROM m
    ),
    f AS (
        SELECT nt,
               {_ANOVA_SSB_SQL} AS ssb,
               {_ANOVA_SSW_SQL} AS ssw
        FROM w
    )
    SELECT nt AS n_total,
           {len(_ANOVA_GROUPS) - 1} AS df_between,
           nt - {len(_ANOVA_GROUPS)} AS df_within,
           ROUND((ssb / {len(_ANOVA_GROUPS) - 1})
                 / (ssw / (nt - {len(_ANOVA_GROUPS)})), 6) AS w_stat
    FROM f
    """,
)
def ml_levene_brown_forsythe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    k = len(_ANOVA_GROUPS)
    g = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    med = g.groupBy("o_orderpriority").agg(
        (2 * F.expr("percentile(cents, 0.5)"))
        .cast("long")
        .alias("med2")
    )
    z = g.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        F.abs(2 * F.col("cents") - F.col("med2")).alias("cents"),
    )
    m = z.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    w = m.agg(
        *[
            F.max(
                F.when(F.col("o_orderpriority") == grp, F.col(c))
            ).alias(f"{c}{i}")
            for grp, i in _ANOVA_GROUPS
            for c in ("n", "s", "ss")
        ],
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
    )

    def _ssq_over_n(i: int):
        return (
            F.col(f"s{i}").cast("double")
            * F.col(f"s{i}")
            / F.col(f"n{i}")
        )

    ssw = None
    ssb = None
    for _, i in _ANOVA_GROUPS:
        term_w = F.col(f"ss{i}").cast("double") - _ssq_over_n(i)
        ssw = term_w if ssw is None else ssw + term_w
        term_b = _ssq_over_n(i)
        ssb = term_b if ssb is None else ssb + term_b
    ssb = ssb - F.col("st").cast("double") * F.col("st") / F.col("nt")
    f = w.select(F.col("nt"), ssb.alias("ssb"), ssw.alias("ssw"))
    return f.select(
        F.col("nt").alias("n_total"),
        F.lit(k - 1).alias("df_between"),
        (F.col("nt") - k).alias("df_within"),
        F.round(
            (F.col("ssb") / (k - 1))
            / (F.col("ssw") / (F.col("nt") - k)),
            6,
        ).alias("w_stat"),
    )


# ---------------------------------------------------------------------------
# Durbin-Watson test on the daily-trend OLS residuals
# ---------------------------------------------------------------------------
# The regression-diagnostics companion to ml_ols_daily_trend: are the
# residuals of the daily-order-count trend serially correlated?
# With the ZERO-FILLED dense day index (unit spacing), the DW
# statistic needs NO per-row residual materialization:
#   SSE           = Syy_c - b * Sxy_c            (exact moments)
#   sum (e_t-e_{t-1})^2 = sum dy^2 - 2*b*sum dy + (n-1)*b^2
# where dy = y_t - y_{t-1} is an exact integer from one LAG pass and
# sum dy telescopes to y_last - y_first.  Every aggregate is an
# exact integer; DW is one fixed double expression -- bit-identical
# cross-engine, no engine-ordered double summation anywhere.
# 100 TB shape: fact table collapses to the bounded calendar first;
# one LAG window over the bounded day table.
@query(
    "ml_durbin_watson",
    oracle="""
    WITH bounds AS (
        SELECT MIN(o_orderdate) AS d0, MAX(o_orderdate) AS d1
        FROM orders
    ),
    days AS (
        SELECT UNNEST(generate_series(0,
                   datediff('day', d0, d1))) AS d
        FROM bounds
    ),
    counts AS (
        SELECT datediff('day', bounds.d0, o_orderdate) AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders CROSS JOIN bounds
        GROUP BY 1
    ),
    series AS (
        SELECT days.d, COALESCE(counts.y, 0) AS y
        FROM days LEFT JOIN counts USING (d)
    ),
    lagged AS (
        SELECT d, y, y - LAG(y) OVER (ORDER BY d) AS dy
        FROM series
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(d * d) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(d * y) AS BIGINT) AS sxy,
               CAST(SUM(dy * dy) AS BIGINT) AS sdy2,
               CAST(SUM(dy) AS BIGINT) AS sdy
        FROM lagged
    ),
    fit AS (
        SELECT n,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                   AS b,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
                   AS syy_c,
               CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n
                   AS sxy_c,
               CAST(sdy2 AS DOUBLE) AS sdy2,
               CAST(sdy AS DOUBLE) AS sdy
        FROM mom
    )
    SELECT n AS n_days,
           ROUND(b, 8) AS slope_per_day,
           ROUND((sdy2 - 2 * b * sdy + (n - 1) * b * b)
                 / (syy_c - b * sxy_c), 6) AS dw_stat,
           ROUND(1 - (sdy2 - 2 * b * sdy + (n - 1) * b * b)
                     / (syy_c - b * sxy_c) / 2, 6) AS rho_approx
    FROM fit
    """,
)
def ml_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias(
            "d"
        )
    )
    counts = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.col("d0")).alias(
                "d"
            )
        )
        .agg(F.count("*").cast("long").alias("y"))
    )
    series = days.join(counts, "d", "left").select(
        "d", F.coalesce("y", F.lit(0)).alias("y")
    )
    lagged = series.select(
        "d",
        "y",
        (F.col("y") - F.lag("y").over(Window.orderBy("d"))).alias(
            "dy"
        ),
    )
    mom = lagged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("d") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("sdy2"),
        F.sum("dy").cast("long").alias("sdy"),
    )
    n = F.col("n")
    b = (
        n * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        n * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    syy_c = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy") / n
    )
    sxy_c = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy") / n
    )
    fit = mom.select(
        n.alias("n"),
        b.alias("b"),
        syy_c.alias("syy_c"),
        sxy_c.alias("sxy_c"),
        F.col("sdy2").cast("double").alias("sdy2"),
        F.col("sdy").cast("double").alias("sdy"),
    )
    num = (
        F.col("sdy2")
        - 2 * F.col("b") * F.col("sdy")
        + (F.col("n") - 1) * F.col("b") * F.col("b")
    )
    den = F.col("syy_c") - F.col("b") * F.col("sxy_c")
    return fit.select(
        F.col("n").alias("n_days"),
        F.round(F.col("b"), 8).alias("slope_per_day"),
        F.round(num / den, 6).alias("dw_stat"),
        F.round(1 - num / den / 2, 6).alias("rho_approx"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily order series
# ---------------------------------------------------------------------------
# The nonparametric randomness screen: are above-median and
# below-median days randomly interleaved, or do they clump (trend /
# regime persistence)?  Ties at the median are dropped (the standard
# convention); the doubled-median trick (2*y vs med2, both exact
# longs) keeps the above/below classification integer-exact.  Run
# count comes from ONE LAG pass over the ordered bounded day table
# (exact integer), and the normal approximation z is one fixed
# double expression over the three exact counts.
@query(
    "orders_runs_test_daily",
    oracle="""
    WITH bounds AS (
        SELECT MIN(o_orderdate) AS d0, MAX(o_orderdate) AS d1
        FROM orders
    ),
    days AS (
        SELECT UNNEST(generate_series(0,
                   datediff('day', d0, d1))) AS d
        FROM bounds
    ),
    counts AS (
        SELECT datediff('day', bounds.d0, o_orderdate) AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders CROSS JOIN bounds
        GROUP BY 1
    ),
    series AS (
        SELECT days.d, COALESCE(counts.y, 0) AS y
        FROM days LEFT JOIN counts USING (d)
    ),
    med AS (
        SELECT CAST(2 * quantile_cont(CAST(y AS DOUBLE), 0.5)
                    AS BIGINT) AS med2
        FROM series
    ),
    signs AS (
        SELECT d, CASE WHEN 2 * y > med2 THEN 1 ELSE 0 END AS s
        FROM series CROSS JOIN med
        WHERE 2 * y <> med2
    ),
    runs AS (
        SELECT s,
               CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                         OR LAG(s) OVER (ORDER BY d) <> s
                    THEN 1 ELSE 0 END AS new_run
        FROM signs
    ),
    agg AS (
        SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2,
               CAST(SUM(new_run) AS BIGINT) AS r
        FROM runs
    )
    SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
           ROUND(2.0 * n1 * n2 / (n1 + n2) + 1, 4) AS expected_runs,
           CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                ELSE ROUND((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
                     / SQRT(2.0 * n1 * n2
                            * (2.0 * n1 * n2 - n1 - n2)
                            / ((CAST(n1 + n2 AS DOUBLE))
                               * (n1 + n2) * (n1 + n2 - 1))), 6)
           END AS z_stat
    FROM agg
    """,
)
def orders_runs_test_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias(
            "d"
        )
    )
    counts = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.col("d0")).alias(
                "d"
            )
        )
        .agg(F.count("*").cast("long").alias("y"))
    )
    series = days.join(counts, "d", "left").select(
        "d", F.coalesce("y", F.lit(0)).alias("y")
    )
    med = series.agg(
        (2 * F.expr("percentile(CAST(y AS DOUBLE), 0.5)"))
        .cast("long")
        .alias("med2")
    )
    signs = (
        series.crossJoin(F.broadcast(med))
        .filter(2 * F.col("y") != F.col("med2"))
        .select(
            "d",
            F.when(2 * F.col("y") > F.col("med2"), 1)
            .otherwise(0)
            .alias("s"),
        )
    )
    lag_s = F.lag("s").over(Window.orderBy("d"))
    runs = signs.select(
        "s",
        F.when(lag_s.isNull() | (lag_s != F.col("s")), 1)
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum("new_run").cast("long").alias("r"),
    )
    n1 = F.col("n1")
    n2 = F.col("n2")
    r = F.col("r")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / (
            (n1 + n2).cast("double")
            * (n1 + n2)
            * (n1 + n2 - 1)
        )
    )
    return agg.select(
        n1.alias("n_above"),
        n2.alias("n_below"),
        r.alias("n_runs"),
        F.round(mu, 4).alias("expected_runs"),
        # degenerate one-sided series (possible at tiny SF): no test
        F.when(
            (n1 == 0) | (n2 == 0), F.lit(None).cast("double")
        )
        .otherwise(F.round((r - mu) / F.sqrt(var), 6))
        .alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Randomization (permutation) test for the priority mean difference
# ---------------------------------------------------------------------------
# The resampling companion to ml_ttest_welch on the same hi/lo
# split: is the observed mean-value difference explainable by label
# randomness?  Labels are re-assigned by B seeded md5 coin flips
# (u_r < floor(65536 * n_hi / N), so each pseudo-split matches the
# real group PROPORTION in expectation -- the Bernoulli
# randomization-test variant; the seeded-hash machinery is the
# ml_bootstrap_mean_ci design: 8 replicas per md5, explode x{B/8},
# 16 compiled aggregates per hash group).  Every per-replicate sum
# and count is an exact integer; diffs and the two-sided p-value
# (1 + #extreme)/(B + 1) are fixed double expressions.
_PERM_REPLICAS = 64


def _perm_u_sql(m: int, half: int) -> str:
    c = (
        f"CAST(concat('0x', substr(h, {1 + 8 * m}, 8)) AS BIGINT)"
    )
    return f"({c} >> 16)" if half == 0 else f"({c} & 65535)"


def _perm_oracle() -> str:
    sums = ",\n               ".join(
        f"CAST(SUM(CASE WHEN {_perm_u_sql(m, hf)} < t.th THEN cents"
        f" ELSE 0 END) AS BIGINT) AS s{m}_{hf},\n"
        f"               CAST(SUM(CASE WHEN {_perm_u_sql(m, hf)}"
        f" < t.th THEN 1 ELSE 0 END) AS BIGINT) AS c{m}_{hf}"
        for m in range(4)
        for hf in range(2)
    )
    extreme = " + ".join(
        f"""(CASE WHEN c{m}_{hf} > 0 AND c{m}_{hf} < t.n_total
             AND ABS(CAST(s{m}_{hf} AS DOUBLE) / c{m}_{hf}
                 - CAST(t.s_total - s{m}_{hf} AS DOUBLE)
                   / (t.n_total - c{m}_{hf}))
             >= ABS(t.obs_diff) THEN 1 ELSE 0 END)"""
        for m in range(4)
        for hf in range(2)
    )
    return f"""
    WITH r AS MATERIALIZED (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS is_hi
        FROM orders
    ),
    t AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(cents) AS BIGINT) AS s_total,
               CAST(SUM(is_hi) AS BIGINT) AS n_hi,
               CAST(FLOOR(65536.0 * SUM(is_hi) / COUNT(*))
                    AS BIGINT) AS th,
               CAST(SUM(CASE WHEN is_hi = 1 THEN cents ELSE 0 END)
                    AS DOUBLE) / SUM(is_hi)
               - CAST(SUM(CASE WHEN is_hi = 0 THEN cents ELSE 0 END)
                      AS DOUBLE) / (COUNT(*) - SUM(is_hi))
                   AS obs_diff
        FROM r
    ),
    g AS MATERIALIZED (
        SELECT cents, j.j,
               md5(concat('p', CAST(o_orderkey AS VARCHAR), ':',
                          CAST(j.j AS VARCHAR))) AS h
        FROM r CROSS JOIN generate_series(0,
                 {_PERM_REPLICAS // 8 - 1}) j(j)
    ),
    per_j AS (
        SELECT j, {sums}
        FROM g CROSS JOIN t
        GROUP BY j, t.th
    ),
    ext AS (
        SELECT CAST(SUM({extreme}) AS BIGINT) AS n_extreme
        FROM per_j CROSS JOIN t
    )
    SELECT t.n_hi, t.n_total - t.n_hi AS n_lo,
           ROUND(t.obs_diff / 100, 6) AS obs_diff,
           {_PERM_REPLICAS} AS n_replicas,
           ext.n_extreme,
           ROUND((1.0 + ext.n_extreme) / ({_PERM_REPLICAS} + 1), 6)
               AS p_value
    FROM t CROSS JOIN ext
    """


@query("ml_permutation_test", oracle=_perm_oracle())
def ml_permutation_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        _cents(F.col("o_totalprice")).alias("cents"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("is_hi"),
    )
    orders = orders.repartition(
        spark.sparkContext.defaultParallelism
    ).cache()
    t = orders.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("cents").cast("long").alias("s_total"),
        F.sum("is_hi").cast("long").alias("n_hi"),
        F.floor(
            65536.0 * F.sum("is_hi") / F.count("*")
        )
        .cast("long")
        .alias("th"),
        (
            F.sum(F.when(F.col("is_hi") == 1, F.col("cents")).otherwise(0)).cast("double")
            / F.sum("is_hi")
            - F.sum(F.when(F.col("is_hi") == 0, F.col("cents")).otherwise(0)).cast("double")
            / (F.count("*") - F.sum("is_hi"))
        ).alias("obs_diff"),
    )
    js = spark.range(_PERM_REPLICAS // 8).select(
        F.col("id").cast("int").alias("j")
    )
    g = orders.crossJoin(F.broadcast(js)).select(
        "cents",
        "j",
        F.md5(
            F.concat(
                F.lit("p"),
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("j").cast("string"),
            )
        ).alias("h"),
    )

    # Same expressions as before r13, parsed from SQL strings in bulk
    # (one py4j call per aggregate / one for the extreme sum) instead
    # of ~500 Column-op round trips -- construction was ~0.7 s of this
    # cell's wall time; the strings mirror the oracle's _perm_u_sql /
    # `extreme` builders term for term.
    def _u_sql(m: int, half: int) -> str:
        v = (
            f"CAST(conv(substring(h, {1 + 8 * m}, 8), 16, 10)"
            " AS BIGINT)"
        )
        return (
            f"shiftright({v}, 16)" if half == 0 else f"({v} & 65535)"
        )

    aggs = []
    for m in range(4):
        for hf in range(2):
            hit = f"{_u_sql(m, hf)} < th"
            aggs.append(
                F.expr(
                    f"CAST(sum(CASE WHEN {hit} THEN cents ELSE 0 END)"
                    f" AS BIGINT) AS s{m}_{hf}"
                )
            )
            aggs.append(
                F.expr(
                    f"CAST(sum(CASE WHEN {hit} THEN 1 ELSE 0 END)"
                    f" AS BIGINT) AS c{m}_{hf}"
                )
            )
    per_j = (
        g.crossJoin(F.broadcast(t.select("th")))
        .groupBy("j", "th")
        .agg(*aggs)
    )
    ext_sql = " + ".join(
        f"(CASE WHEN c{m}_{hf} > 0 AND c{m}_{hf} < n_total"
        f" AND ABS(CAST(s{m}_{hf} AS DOUBLE) / c{m}_{hf}"
        f" - CAST(s_total - s{m}_{hf} AS DOUBLE)"
        f" / (n_total - c{m}_{hf}))"
        f" >= ABS(obs_diff) THEN 1 ELSE 0 END)"
        for m in range(4)
        for hf in range(2)
    )
    ext = (
        per_j.crossJoin(
            F.broadcast(t.select("n_total", "s_total", "obs_diff"))
        )
        .agg(
            F.expr(
                f"CAST(sum({ext_sql}) AS BIGINT) AS n_extreme"
            )
        )
    )
    return t.crossJoin(F.broadcast(ext)).select(
        "n_hi",
        (F.col("n_total") - F.col("n_hi")).alias("n_lo"),
        F.round(F.col("obs_diff") / 100, 6).alias("obs_diff"),
        F.lit(_PERM_REPLICAS).alias("n_replicas"),
        "n_extreme",
        F.round(
            (1.0 + F.col("n_extreme")) / (_PERM_REPLICAS + 1), 6
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Tukey-Kramer HSD post-hoc pairwise comparisons
# ---------------------------------------------------------------------------
# The follow-up ml_anova_oneway implies: WHICH priority groups
# differ?  The studentized-range statistic for every group pair,
# q_ij = |m_i - m_j| / sqrt(MSW/2 * (1/n_i + 1/n_j)) (Tukey-Kramer
# form for unequal n), with MSW from the same exact integer moments.
# The pair dimension is the bounded 5x5 group domain (10 rows), so
# this is a broadcast self-join of the tiny moment table against the
# 1-row MSW scalar -- every statistic a fixed double expression.
@query(
    "ml_tukey_hsd",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    m AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(CAST(cents AS DECIMAL(38,0))
                        * CAST(cents AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS ss
        FROM g GROUP BY o_orderpriority
    ),
    w AS (
        SELECT {_ANOVA_PIVOT_SQL},
               CAST(SUM(n) AS BIGINT) AS nt
        FROM m
    ),
    msw AS (
        SELECT ({_ANOVA_SSW_SQL})
               / (nt - {len(_ANOVA_GROUPS)}) AS msw
        FROM w
    )
    SELECT a.o_orderpriority AS group_a,
           b.o_orderpriority AS group_b,
           ROUND((CAST(a.s AS DOUBLE) / a.n
                  - CAST(b.s AS DOUBLE) / b.n) / 100, 6)
               AS mean_diff,
           ROUND(SQRT(msw.msw / 2
                      * (1.0 / a.n + 1.0 / b.n)) / 100, 6)
               AS std_err,
           ROUND(ABS(CAST(a.s AS DOUBLE) / a.n
                     - CAST(b.s AS DOUBLE) / b.n)
                 / SQRT(msw.msw / 2 * (1.0 / a.n + 1.0 / b.n)), 6)
               AS q_stat
    FROM m a JOIN m b ON a.o_orderpriority < b.o_orderpriority
    CROSS JOIN msw
    """,
)
def ml_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    k = len(_ANOVA_GROUPS)
    g = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    m = g.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    w = m.agg(
        *[
            F.max(
                F.when(F.col("o_orderpriority") == grp, F.col(c))
            ).alias(f"{c}{i}")
            for grp, i in _ANOVA_GROUPS
            for c in ("n", "s", "ss")
        ],
        F.sum("n").cast("long").alias("nt"),
    )
    ssw = None
    for _, i in _ANOVA_GROUPS:
        term = F.col(f"ss{i}").cast("double") - (
            F.col(f"s{i}").cast("double")
            * F.col(f"s{i}")
            / F.col(f"n{i}")
        )
        ssw = term if ssw is None else ssw + term
    msw = w.select((ssw / (F.col("nt") - k)).alias("msw"))
    a = m.select(
        F.col("o_orderpriority").alias("group_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
    )
    b = m.select(
        F.col("o_orderpriority").alias("group_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
    )
    diff = (
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    )
    se = F.sqrt(
        F.col("msw")
        / 2
        * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .crossJoin(F.broadcast(msw))
        .select(
            "group_a",
            "group_b",
            F.round(diff / 100, 6).alias("mean_diff"),
            F.round(se / 100, 6).alias("std_err"),
            F.round(F.abs(diff) / se, 6).alias("q_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Segmented (piecewise) trend at the CUSUM-argmax breakpoint
# ---------------------------------------------------------------------------
# Prophet-style changepoint regression reduced to its exact core:
# find the day t* maximizing |CUSUM| of the daily order counts, then
# fit independent OLS lines to [0, t*] and (t*, end].  Exactness:
# the CUSUM argmax compares |N*S_t - t_prefix*S| -- the INTEGER
# numerator of S_t - t*mean -- so the breakpoint is an exact integer
# argmax (ties -> earliest day); both segment fits come from
# conditional exact integer moments.  100 TB shape: fact table
# collapses to the bounded calendar, one window pass for the CUSUM,
# one argmax aggregate (max_by on the exact key), one conditional
# moment aggregate.
@query(
    "orders_segmented_trend",
    oracle="""
    WITH bounds AS (
        SELECT MIN(o_orderdate) AS d0, MAX(o_orderdate) AS d1
        FROM orders
    ),
    days AS (
        SELECT UNNEST(generate_series(0,
                   datediff('day', d0, d1))) AS d
        FROM bounds
    ),
    counts AS (
        SELECT datediff('day', bounds.d0, o_orderdate) AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders CROSS JOIN bounds
        GROUP BY 1
    ),
    series AS (
        SELECT days.d, COALESCE(counts.y, 0) AS y
        FROM days LEFT JOIN counts USING (d)
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s
        FROM series
    ),
    cus AS (
        SELECT d,
               ABS(tot.n * CAST(SUM(y) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS HUGEINT)
                   - (d + 1) * CAST(tot.s AS HUGEINT)) AS key
        FROM series CROSS JOIN tot
    ),
    bp AS (
        SELECT MIN(d) AS t_star FROM cus
        WHERE key = (SELECT MAX(key) FROM cus)
    ),
    seg AS (
        SELECT CASE WHEN series.d <= bp.t_star THEN 0 ELSE 1 END
                   AS segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(d * d) AS BIGINT) AS sxx,
               CAST(SUM(d * y) AS BIGINT) AS sxy
        FROM series CROSS JOIN bp
        GROUP BY 1
    )
    SELECT seg.segment, bp.t_star AS breakpoint_day, seg.n AS n_days,
           ROUND((seg.n * CAST(seg.sxy AS DOUBLE)
                  - CAST(seg.sx AS DOUBLE) * seg.sy)
                 / (seg.n * CAST(seg.sxx AS DOUBLE)
                    - CAST(seg.sx AS DOUBLE) * seg.sx), 8)
               AS slope_per_day,
           ROUND((CAST(seg.sy AS DOUBLE)
                  - ((seg.n * CAST(seg.sxy AS DOUBLE)
                      - CAST(seg.sx AS DOUBLE) * seg.sy)
                     / (seg.n * CAST(seg.sxx AS DOUBLE)
                        - CAST(seg.sx AS DOUBLE) * seg.sx))
                    * seg.sx) / seg.n, 6) AS intercept
    FROM seg CROSS JOIN bp
    """,
)
def orders_segmented_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias(
            "d"
        )
    )
    counts = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.col("d0")).alias(
                "d"
            )
        )
        .agg(F.count("*").cast("long").alias("y"))
    )
    series = (
        days.join(counts, "d", "left")
        .select("d", F.coalesce("y", F.lit(0)).alias("y"))
        .cache()
    )
    tot = series.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    wc = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cus = series.crossJoin(F.broadcast(tot)).select(
        "d",
        F.abs(
            F.col("n").cast("decimal(38,0)")
            * F.sum("y").over(wc).cast("decimal(38,0)")
            - (F.col("d") + 1).cast("decimal(38,0)")
            * F.col("s").cast("decimal(38,0)")
        ).alias("key"),
    )
    mx = cus.agg(F.max("key").alias("mk"))
    bp = (
        cus.crossJoin(F.broadcast(mx))
        .filter(F.col("key") == F.col("mk"))
        .agg(F.min("d").alias("t_star"))
    )
    seg = (
        series.crossJoin(F.broadcast(bp))
        .groupBy(
            F.when(F.col("d") <= F.col("t_star"), 0)
            .otherwise(1)
            .alias("segment")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("d").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias("sxx"),
            F.sum(F.col("d") * F.col("y")).cast("long").alias("sxy"),
        )
    )
    n = F.col("n")
    slope = (
        n * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        n * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    return seg.crossJoin(F.broadcast(bp)).select(
        "segment",
        F.col("t_star").alias("breakpoint_day"),
        n.alias("n_days"),
        F.round(slope, 8).alias("slope_per_day"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx")) / n,
            6,
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Forecast backtest: naive / seasonal-naive / drift on monthly revenue
# ---------------------------------------------------------------------------
# The evaluation harness the forecasting family (SES, Holt) needs:
# one-step-ahead backtests of the three standard baselines every
# forecast must beat -- naive (f_t = y_{t-1}), seasonal naive
# (f_t = y_{t-12}), drift (last value + average historic slope) --
# scored by MAE / RMSE / MAPE over the months where all three are
# defined (t > 12).  naive/snaive errors are exact integer cents;
# drift is rational; each score is one bounded-month aggregate
# rounded well above the double-sum ULP (the entropy-rate
# precedent).  100 TB shape: fact table collapses to the bounded
# monthly summary first; LAG window over ~bounded rows.
@query(
    "orders_forecast_backtest",
    oracle="""
    WITH m AS (
        SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE))
                    AS DATE) AS mo,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT mo, y,
               CAST(ROW_NUMBER() OVER (ORDER BY mo) AS BIGINT) AS t,
               LAG(y, 1) OVER (ORDER BY mo) AS l1,
               LAG(y, 12) OVER (ORDER BY mo) AS l12,
               FIRST_VALUE(y) OVER (ORDER BY mo) AS y0
        FROM m
    ),
    f AS (
        SELECT t, y,
               CAST(l1 AS DOUBLE) AS f_naive,
               CAST(l12 AS DOUBLE) AS f_snaive,
               l1 + (CAST(l1 AS DOUBLE) - y0) / (t - 2) AS f_drift
        FROM idx WHERE t > 13
    ),
    long AS (
        SELECT 'naive' AS method, y, f_naive AS f FROM f
        UNION ALL
        SELECT 'snaive', y, f_snaive FROM f
        UNION ALL
        SELECT 'drift', y, f_drift FROM f
    )
    SELECT method,
           CAST(COUNT(*) AS BIGINT) AS n_forecasts,
           ROUND(AVG(ABS(y - f)) / 100, 4) AS mae,
           ROUND(SQRT(AVG((y - f) * (y - f))) / 100, 4) AS rmse,
           ROUND(AVG(ABS(y - f) / y) * 100, 4) AS mape_pct
    FROM long GROUP BY method
    """,
)
def orders_forecast_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias(
            "mo"
        )
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    w = Window.orderBy("mo")
    wall = Window.orderBy("mo").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    idx = m.select(
        "mo",
        "y",
        F.row_number().over(w).cast("long").alias("t"),
        F.lag("y", 1).over(w).alias("l1"),
        F.lag("y", 12).over(w).alias("l12"),
        F.first("y").over(wall).alias("y0"),
    )
    f = idx.filter(F.col("t") > 13).select(
        "t",
        "y",
        F.col("l1").cast("double").alias("f_naive"),
        F.col("l12").cast("double").alias("f_snaive"),
        (
            F.col("l1")
            + (F.col("l1").cast("double") - F.col("y0"))
            / (F.col("t") - 2)
        ).alias("f_drift"),
    )
    longf = None
    for method, col in (
        ("naive", "f_naive"),
        ("snaive", "f_snaive"),
        ("drift", "f_drift"),
    ):
        part = f.select(
            F.lit(method).alias("method"),
            "y",
            F.col(col).alias("f"),
        )
        longf = part if longf is None else longf.unionByName(part)
    err = F.col("y") - F.col("f")
    return longf.groupBy("method").agg(
        F.count("*").cast("long").alias("n_forecasts"),
        F.round(F.avg(F.abs(err)) / 100, 4).alias("mae"),
        F.round(F.sqrt(F.avg(err * err)) / 100, 4).alias("rmse"),
        F.round(F.avg(F.abs(err) / F.col("y")) * 100, 4).alias(
            "mape_pct"
        ),
    )


# ---------------------------------------------------------------------------
# Relative Strength Index (Cutler's SMA form) over daily revenue
# ---------------------------------------------------------------------------
# The momentum companion to window_bollinger_bands: 14-day RSI
# = 100 * SG / (SG + SL) where SG/SL are the window sums of up/down
# moves -- Cutler's simple-average variant, chosen over Wilder's
# EWMA precisely because it keeps every term an exact integer cent
# (up/down moves are integer deltas; window sums are exact), making
# the RSI one fixed double expression per row.
RSI_WINDOW = 14


@query(
    "window_rsi_momentum",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    lagd AS (
        SELECT day, cents, LAG(cents) OVER (ORDER BY day) AS prev
        FROM daily
    ),
    moves AS (
        SELECT day, cents,
               GREATEST(cents - prev, 0) AS gain,
               GREATEST(prev - cents, 0) AS loss
        FROM lagd WHERE prev IS NOT NULL
    ),
    win AS (
        SELECT day, cents,
               CAST(COUNT(gain) OVER w AS BIGINT) AS n_moves,
               CAST(SUM(gain) OVER w AS BIGINT) AS sg,
               CAST(SUM(loss) OVER w AS BIGINT) AS sl
        FROM moves
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN {RSI_WINDOW - 1} PRECEDING
                              AND CURRENT ROW)
    )
    SELECT day, ROUND(cents / 100.0, 2) AS revenue,
           CASE WHEN sg + sl = 0 THEN 50.0
                ELSE ROUND(100.0 * sg / (sg + sl), 4)
           END AS rsi
    FROM win WHERE n_moves >= {RSI_WINDOW}
    """,
)
def window_rsi_momentum(
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
    w = Window.orderBy("day")
    lagd = daily.select(
        "day", "cents", F.lag("cents").over(w).alias("prev")
    )
    moves = lagd.filter(F.col("prev").isNotNull()).select(
        "day",
        "cents",
        F.greatest(F.col("cents") - F.col("prev"), F.lit(0)).alias(
            "gain"
        ),
        F.greatest(F.col("prev") - F.col("cents"), F.lit(0)).alias(
            "loss"
        ),
    )
    wr = Window.orderBy("day").rowsBetween(
        -(RSI_WINDOW - 1), Window.currentRow
    )
    win = moves.select(
        "day",
        "cents",
        F.count("gain").over(wr).cast("long").alias("n_moves"),
        F.sum("gain").over(wr).cast("long").alias("sg"),
        F.sum("loss").over(wr).cast("long").alias("sl"),
    )
    return win.filter(F.col("n_moves") >= RSI_WINDOW).select(
        "day",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.when(F.col("sg") + F.col("sl") == 0, F.lit(50.0))
        .otherwise(
            F.round(
                100.0
                * F.col("sg")
                / (F.col("sg") + F.col("sl")),
                4,
            )
        )
        .alias("rsi"),
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank test (paired first vs second order value)
# ---------------------------------------------------------------------------
# The PAIRED companion to ml_mann_whitney_u: does a customer's
# second order differ systematically from their first?  Differences
# d = cents(second) - cents(first) per repeat customer; zeros
# dropped (the standard convention); |d| midranks kept exact via the
# same doubled-midrank prefix-sum machinery as Mann-Whitney (2*rank
# integers, ties corrected by sum(t^3 - t)).  W2 = 2*W+ stays an
# exact long; the normal-approximation z is one fixed double
# expression.
@query(
    "ml_wilcoxon_signed_rank",
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ),
    d AS (
        SELECT s2.cents - s1.cents AS d
        FROM (SELECT * FROM seq WHERE rn = 1) s1
        JOIN (SELECT * FROM seq WHERE rn = 2) s2
          ON s1.o_custkey = s2.o_custkey
        WHERE s2.cents <> s1.cents
    ),
    byval AS (
        SELECT ABS(d) AS absd, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS t_pos
        FROM d GROUP BY ABS(d)
    ),
    ranked AS (
        SELECT t, t_pos,
               CAST(SUM(t) OVER (ORDER BY absd
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) - t AS cum_before
        FROM byval
    ),
    s AS (
        SELECT CAST(SUM(t) AS BIGINT) AS n,
               CAST(SUM(t_pos) AS BIGINT) AS n_pos,
               CAST(SUM(t_pos * (2 * cum_before + t + 1)) AS BIGINT)
                   AS w2,
               CAST(SUM(t * t * t - t) AS BIGINT) AS ties,
               CAST(SUM(CASE WHEN t > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tie_values
        FROM ranked
    )
    SELECT n AS n_pairs, n_pos, n - n_pos AS n_neg, tie_values,
           ROUND(w2 / 2.0, 2) AS w_plus,
           ROUND((w2 - n * (n + 1) / 2.0)
                 / SQRT(n * (n + 1.0) * (2 * n + 1) / 6.0
                        - ties / 12.0), 6) AS z_stat
    FROM s
    """,
)
def ml_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    wseq = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = orders.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
        F.row_number().over(wseq).alias("rn"),
    )
    s1 = seq.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("cents").alias("c1")
    )
    s2 = seq.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("k2"), F.col("cents").alias("c2")
    )
    d = (
        s1.join(s2, s1["o_custkey"] == s2["k2"])
        .filter(F.col("c2") != F.col("c1"))
        .select((F.col("c2") - F.col("c1")).alias("d"))
    )
    byval = d.groupBy(F.abs(F.col("d")).alias("absd")).agg(
        F.count("*").cast("long").alias("t"),
        F.sum((F.col("d") > 0).cast("int"))
        .cast("long")
        .alias("t_pos"),
    )
    # distinct |diff| cents are near-unique (row-scale): two-pass
    # cumulative ranks, bit-length buckets for the small-diff skew
    ranked = prefix_scan(
        byval, bitlen(F.col("absd")), ["absd"], [("t", "_cum")]
    ).select(
        "t",
        "t_pos",
        (F.col("_cum") - F.col("t")).alias("cum_before"),
    )
    s = ranked.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum("t_pos").cast("long").alias("n_pos"),
        F.sum(
            F.col("t_pos") * (2 * F.col("cum_before") + F.col("t") + 1)
        )
        .cast("long")
        .alias("w2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("ties"),
        F.sum((F.col("t") > 1).cast("int"))
        .cast("long")
        .alias("tie_values"),
    )
    n = F.col("n")
    return s.select(
        n.alias("n_pairs"),
        F.col("n_pos"),
        (n - F.col("n_pos")).alias("n_neg"),
        "tie_values",
        F.round(F.col("w2") / 2.0, 2).alias("w_plus"),
        F.round(
            (F.col("w2") - n * (n + 1) / 2.0)
            / F.sqrt(
                n * (n + 1.0) * (2 * n + 1) / 6.0
                - F.col("ties") / 12.0
            ),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the pairwise Welch z-tests
# ---------------------------------------------------------------------------
# The multiple-testing discipline the pairwise family (ml_tukey_hsd)
# otherwise lacks: all 10 pairwise Welch z statistics between the
# priority groups, two-sided normal p-values, and the BH step-up
# adjustment p_bh(i) = min_{j>=i}(p_(j) * m / j) with monotone
# running min.  No engine exposes the normal CDF, so Phi is the
# Abramowitz-Stegun 7.1.26 erf polynomial -- a FIXED double
# expression evaluated identically by both engines (the same
# determinism argument as every ln/exp use here).  The pair table is
# the bounded 5x5 domain; BH's ordered running min runs over 10
# rows.
_AS_ERF = (
    "(1.0 - (0.254829592 * {t} - 0.284496736 * POWER({t}, 2)"
    " + 1.421413741 * POWER({t}, 3) - 1.453152027 * POWER({t}, 4)"
    " + 1.061405429 * POWER({t}, 5)) * EXP(-({x}) * ({x})))"
)


def _phi_sql(z: str) -> str:
    """P(Z <= z) for z >= 0 via the A&S erf polynomial."""
    x = f"(({z}) / 1.4142135623730951)"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    erf = _AS_ERF.format(t=t, x=x)
    return f"(0.5 * (1.0 + {erf}))"


def _phi_col(z):
    x = z / 1.4142135623730951
    t = 1.0 / (1.0 + 0.3275911 * x)
    erf = 1.0 - (
        0.254829592 * t
        - 0.284496736 * F.pow(t, 2)
        + 1.421413741 * F.pow(t, 3)
        - 1.453152027 * F.pow(t, 4)
        + 1.061405429 * F.pow(t, 5)
    ) * F.exp(-x * x)
    return 0.5 * (1.0 + erf)


@query(
    "ml_multiple_testing_bh",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    m AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(CAST(cents AS DECIMAL(38,0))
                        * CAST(cents AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS ss
        FROM g GROUP BY o_orderpriority
    ),
    pairs AS (
        SELECT a.o_orderpriority AS group_a,
               b.o_orderpriority AS group_b,
               ABS((CAST(a.s AS DOUBLE) / a.n
                    - CAST(b.s AS DOUBLE) / b.n)
                   / SQRT(((CAST(a.ss AS DOUBLE)
                            - CAST(a.s AS DOUBLE) * a.s / a.n)
                           / (a.n - 1)) / a.n
                          + ((CAST(b.ss AS DOUBLE)
                              - CAST(b.s AS DOUBLE) * b.s / b.n)
                             / (b.n - 1)) / b.n)) AS z
        FROM m a JOIN m b ON a.o_orderpriority < b.o_orderpriority
    ),
    praw AS (
        SELECT group_a, group_b, z,
               2.0 * (1.0 - {_phi_sql("z")}) AS p,
               CAST(COUNT(*) OVER () AS BIGINT) AS mt,
               CAST(ROW_NUMBER() OVER (ORDER BY
                   2.0 * (1.0 - {_phi_sql("z")}), group_a, group_b)
                   AS BIGINT) AS rk
        FROM pairs
    ),
    adj AS (
        SELECT group_a, group_b, z, p, rk,
               MIN(p * mt / rk) OVER (ORDER BY rk DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS p_bh_raw
        FROM praw
    )
    SELECT group_a, group_b,
           ROUND(z, 6) AS z_stat,
           ROUND(p, 8) AS p_raw,
           ROUND(LEAST(p_bh_raw, 1.0), 8) AS p_bh,
           CASE WHEN LEAST(p_bh_raw, 1.0) < 0.05 THEN 1 ELSE 0 END
               AS significant_05
    FROM adj
    """,
)
def ml_multiple_testing_bh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    g = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    m = g.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    a = m.select(
        F.col("o_orderpriority").alias("group_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("ss").alias("ssa"),
    )
    b = m.select(
        F.col("o_orderpriority").alias("group_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("ss").alias("ssb"),
    )
    va = (
        (
            F.col("ssa").cast("double")
            - F.col("sa").cast("double") * F.col("sa") / F.col("na")
        )
        / (F.col("na") - 1)
    ) / F.col("na")
    vb = (
        (
            F.col("ssb").cast("double")
            - F.col("sb").cast("double") * F.col("sb") / F.col("nb")
        )
        / (F.col("nb") - 1)
    ) / F.col("nb")
    z = F.abs(
        (
            F.col("sa").cast("double") / F.col("na")
            - F.col("sb").cast("double") / F.col("nb")
        )
        / F.sqrt(va + vb)
    )
    pairs = a.join(
        F.broadcast(b), F.col("group_a") < F.col("group_b")
    ).select("group_a", "group_b", z.alias("z"))
    p = 2.0 * (1.0 - _phi_col(F.col("z")))
    wcount = Window.partitionBy()
    wrank = Window.orderBy(p, "group_a", "group_b")
    praw = pairs.select(
        "group_a",
        "group_b",
        "z",
        p.alias("p"),
        F.count("*").over(wcount).cast("long").alias("mt"),
        F.row_number().over(wrank).cast("long").alias("rk"),
    )
    wmin = Window.orderBy(F.col("rk").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj = praw.select(
        "group_a",
        "group_b",
        "z",
        "p",
        F.min(F.col("p") * F.col("mt") / F.col("rk"))
        .over(wmin)
        .alias("p_bh_raw"),
    )
    p_bh = F.least(F.col("p_bh_raw"), F.lit(1.0))
    return adj.select(
        "group_a",
        "group_b",
        F.round("z", 6).alias("z_stat"),
        F.round("p", 8).alias("p_raw"),
        F.round(p_bh, 8).alias("p_bh"),
        F.when(p_bh < 0.05, 1).otherwise(0).alias("significant_05"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction for the priority A/B metric
# ---------------------------------------------------------------------------
# The experimentation-platform standard (Deng et al. 2013, public):
# adjust each customer's post-period revenue by theta * (pre-period
# revenue - pre mean), theta = cov(pre, post)/var(pre), cutting
# metric variance without biasing the group difference.  Pre/post
# split at the IVM date; "treatment" is the customer's majority
# priority class (hi/lo).  Every moment is an exact integer cent sum
# (DECIMAL(38,0) cross products); theta, the adjusted means, and the
# variance-reduction percentage are fixed double expressions over
# the pivoted 1-row moments -- zero per-row doubles are ever summed.
@query(
    "ml_cuped_adjustment",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CASE WHEN o_orderdate < DATE '1997-01-01'
                    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS pre,
               CAST(SUM(CASE WHEN o_orderdate >= DATE '1997-01-01'
                    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS post,
               CASE WHEN SUM(CASE WHEN o_orderpriority IN
                        ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                        * 2 > COUNT(*)
                    THEN 1 ELSE 0 END AS grp
        FROM orders GROUP BY o_custkey
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pre) AS BIGINT) AS sx,
               CAST(SUM(post) AS BIGINT) AS sy,
               CAST(SUM(CAST(pre AS DECIMAL(38,0))
                        * CAST(pre AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(pre AS DECIMAL(38,0))
                        * CAST(post AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(post AS DECIMAL(38,0))
                        * CAST(post AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CASE WHEN grp = 1 THEN post ELSE 0 END)
                    AS BIGINT) AS sy1,
               CAST(SUM(CASE WHEN grp = 1 THEN pre ELSE 0 END)
                    AS BIGINT) AS sx1,
               CAST(SUM(grp) AS BIGINT) AS n1
        FROM cust
    ),
    f AS (
        SELECT n, n1, n - n1 AS n0,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                   AS theta,
               CAST(sx AS DOUBLE) / n AS mx,
               CAST(sy1 AS DOUBLE) / n1 AS my1,
               CAST((sy - sy1) AS DOUBLE) / (n - n1) AS my0,
               CAST(sx1 AS DOUBLE) / n1 AS mx1,
               CAST((sx - sx1) AS DOUBLE) / (n - n1) AS mx0,
               (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                   AS vy_n2,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                   AS cxy_n2,
               (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                   AS vx_n2
        FROM m
    )
    SELECT n AS n_customers, n1 AS n_hi, n0 AS n_lo,
           ROUND(theta, 6) AS theta,
           ROUND((my1 - my0) / 100, 4) AS raw_diff,
           ROUND(((my1 - theta * (mx1 - mx))
                  - (my0 - theta * (mx0 - mx))) / 100, 4)
               AS cuped_diff,
           ROUND(cxy_n2 * cxy_n2 / (vx_n2 * vy_n2), 6)
               AS variance_reduction
    FROM f
    """,
)
def ml_cuped_adjustment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.when(F.col("o_orderdate") < "1997-01-01", cents).otherwise(0)
        )
        .cast("long")
        .alias("pre"),
        F.sum(
            F.when(
                F.col("o_orderdate") >= "1997-01-01", cents
            ).otherwise(0)
        )
        .cast("long")
        .alias("post"),
        F.when(
            F.sum(
                F.col("o_orderpriority")
                .isin("1-URGENT", "2-HIGH")
                .cast("int")
            )
            * 2
            > F.count("*"),
            1,
        )
        .otherwise(0)
        .alias("grp"),
    )
    m = cust.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pre").cast("long").alias("sx"),
        F.sum("post").cast("long").alias("sy"),
        F.sum(
            F.col("pre").cast("decimal(38,0)")
            * F.col("pre").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(
            F.col("pre").cast("decimal(38,0)")
            * F.col("post").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(
            F.col("post").cast("decimal(38,0)")
            * F.col("post").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.when(F.col("grp") == 1, F.col("post")).otherwise(0))
        .cast("long")
        .alias("sy1"),
        F.sum(F.when(F.col("grp") == 1, F.col("pre")).otherwise(0))
        .cast("long")
        .alias("sx1"),
        F.sum("grp").cast("long").alias("n1"),
    )
    n = F.col("n")
    theta = (
        n * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        n * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    mx = F.col("sx").cast("double") / n
    my1 = F.col("sy1").cast("double") / F.col("n1")
    my0 = (F.col("sy") - F.col("sy1")).cast("double") / (
        n - F.col("n1")
    )
    mx1 = F.col("sx1").cast("double") / F.col("n1")
    mx0 = (F.col("sx") - F.col("sx1")).cast("double") / (
        n - F.col("n1")
    )
    vy = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    cxy = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    vx = n * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    return m.select(
        n.alias("n_customers"),
        F.col("n1").alias("n_hi"),
        (n - F.col("n1")).alias("n_lo"),
        F.round(theta, 6).alias("theta"),
        F.round((my1 - my0) / 100, 4).alias("raw_diff"),
        F.round(
            (
                (my1 - theta * (mx1 - mx))
                - (my0 - theta * (mx0 - mx))
            )
            / 100,
            4,
        ).alias("cuped_diff"),
        F.round(cxy * cxy / (vx * vy), 6).alias(
            "variance_reduction"
        ),
    )


# ---------------------------------------------------------------------------
# Winsorized and trimmed robust statistics
# ---------------------------------------------------------------------------
# The robust-mean pair every metrics platform offers: winsorized
# mean (clamp to the p05/p95 bounds) and trimmed mean (drop outside
# them).  Bounds are EXACT ORDER STATISTICS -- the ceil(q*n)-th
# smallest cent value via the grouped prefix-sum idiom (the
# Mann-Whitney ranked pattern), NOT interpolating quantile_cont:
# interpolation returns a non-integer double whose last ULP can
# differ across engines and then flips a clamp (caught live at
# sf0.001).  With integer bounds, the clamped/trimmed sums are exact
# longs and both means single double expressions.
@query(
    "agg_winsorized_stats",
    oracle="""
    WITH g AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
    byval AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS t
        FROM g GROUP BY cents
    ),
    ranked AS (
        SELECT cents,
               CAST(SUM(t) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM byval
    ),
    q AS (
        SELECT MIN(CASE WHEN cum >= CEIL(0.05 * nn.n)
                        THEN cents END) AS lo,
               MIN(CASE WHEN cum >= CEIL(0.95 * nn.n)
                        THEN cents END) AS hi
        FROM ranked CROSS JOIN nn
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s_raw,
               CAST(SUM(LEAST(GREATEST(cents, lo), hi))
                    AS BIGINT) AS s_wins,
               CAST(SUM(CASE WHEN cents BETWEEN lo AND hi
                             THEN cents ELSE 0 END) AS BIGINT)
                   AS s_trim,
               CAST(SUM(CASE WHEN cents BETWEEN lo AND hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_trim
        FROM g CROSS JOIN q
    )
    SELECT n AS n_orders, n_trim,
           ROUND(CAST(s_raw AS DOUBLE) / n / 100, 4) AS mean_raw,
           ROUND(CAST(s_wins AS DOUBLE) / n / 100, 4)
               AS mean_winsorized,
           ROUND(CAST(s_trim AS DOUBLE) / n_trim / 100, 4)
               AS mean_trimmed
    FROM s
    """,
)
def agg_winsorized_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    g = orders.select(
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents")
    )
    nn = g.agg(F.count("*").cast("long").alias("n"))
    byval = g.groupBy("cents").agg(
        F.count("*").cast("long").alias("t")
    )
    # percentile cut points from distinct cents (near-unique, i.e.
    # row-scale): two-pass cumulative counts over $21k price bands
    ranked = prefix_scan(
        byval,
        F.floor(F.col("cents") / F.lit(1 << 21)),
        ["cents"],
        [("t", "cum")],
    ).select("cents", "cum")
    q = ranked.crossJoin(F.broadcast(nn)).agg(
        F.min(
            F.when(
                F.col("cum") >= F.ceil(0.05 * F.col("n")),
                F.col("cents"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("cum") >= F.ceil(0.95 * F.col("n")),
                F.col("cents"),
            )
        ).alias("hi"),
    )
    inside = (F.col("cents") >= F.col("lo")) & (
        F.col("cents") <= F.col("hi")
    )
    s = g.crossJoin(F.broadcast(q)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s_raw"),
        F.sum(
            F.least(
                F.greatest(F.col("cents"), F.col("lo")),
                F.col("hi"),
            )
        )
        .cast("long")
        .alias("s_wins"),
        F.sum(F.when(inside, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_trim"),
        F.sum(inside.cast("int")).cast("long").alias("n_trim"),
    )
    return s.select(
        F.col("n").alias("n_orders"),
        "n_trim",
        F.round(F.col("s_raw").cast("double") / F.col("n") / 100, 4)
        .alias("mean_raw"),
        F.round(
            F.col("s_wins").cast("double") / F.col("n") / 100, 4
        ).alias("mean_winsorized"),
        F.round(
            F.col("s_trim").cast("double") / F.col("n_trim") / 100, 4
        ).alias("mean_trimmed"),
    )


# ---------------------------------------------------------------------------
# Delta-method standard error for a ratio metric
# ---------------------------------------------------------------------------
# The other experimentation-platform staple next to ml_cuped_
# adjustment: the metric "revenue per order" is a RATIO of two
# per-customer sums, so its variance needs the delta method --
# var(Y/X) ~ (1/mx^2)(vy - 2r*cxy + r^2*vx)/n -- not the naive
# per-row variance.  Computed per priority group (hi/lo) from exact
# integer per-customer (orders, cents) pairs, plus the z score of
# the between-group ratio difference.  Every moment is an exact
# integer; the pivot to one row makes all doubles fixed-order.
@query(
    "ml_ratio_metric_delta_method",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CASE WHEN SUM(CASE WHEN o_orderpriority IN
                        ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                        * 2 > COUNT(*)
                    THEN 'hi' ELSE 'lo' END AS grp,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    m AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(38,0))
                        * CAST(x AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(x AS DECIMAL(38,0))
                        * CAST(y AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(y AS DECIMAL(38,0))
                        * CAST(y AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS syy
        FROM cust GROUP BY grp
    ),
    d AS (
        SELECT grp, n,
               CAST(sy AS DOUBLE) / sx AS ratio,
               CAST(sx AS DOUBLE) / n AS mx,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
               / (n - 1) AS vx,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
               / (n - 1) AS vy,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
               / (n - 1) AS cxy
        FROM m
    ),
    se AS (
        SELECT grp, n, ratio,
               SQRT((vy - 2 * ratio * cxy + ratio * ratio * vx)
                    / (mx * mx) / n) AS se_ratio
        FROM d
    )
    SELECT grp, n AS n_customers,
           ROUND(ratio / 100, 4) AS revenue_per_order,
           ROUND(se_ratio / 100, 4) AS se_delta,
           ROUND((ratio - (SELECT SUM(CASE WHEN grp = 'lo'
                               THEN ratio END) FROM se))
                 / SQRT(se_ratio * se_ratio
                        + (SELECT SUM(CASE WHEN grp = 'lo'
                               THEN se_ratio * se_ratio END)
                           FROM se)), 6) AS z_vs_lo
    FROM se
    """,
)
def ml_ratio_metric_delta_method(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.when(
            F.sum(
                F.col("o_orderpriority")
                .isin("1-URGENT", "2-HIGH")
                .cast("int")
            )
            * 2
            > F.count("*"),
            "hi",
        )
        .otherwise("lo")
        .alias("grp"),
        F.count("*").cast("long").alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y"),
    )
    m = cust.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(
            F.col("x").cast("decimal(38,0)")
            * F.col("x").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(
            F.col("x").cast("decimal(38,0)")
            * F.col("y").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(
            F.col("y").cast("decimal(38,0)")
            * F.col("y").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    n = F.col("n")
    ratio = F.col("sy").cast("double") / F.col("sx")
    mx = F.col("sx").cast("double") / n
    vx = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / n
    ) / (n - 1)
    vy = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy") / n
    ) / (n - 1)
    cxy = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy") / n
    ) / (n - 1)
    se = m.select(
        "grp",
        n.alias("n"),
        ratio.alias("ratio"),
        F.sqrt(
            (vy - 2 * ratio * cxy + ratio * ratio * vx)
            / (mx * mx)
            / n
        ).alias("se_ratio"),
    )
    lo = se.filter(F.col("grp") == "lo").select(
        F.col("ratio").alias("ratio_lo"),
        (F.col("se_ratio") * F.col("se_ratio")).alias("var_lo"),
    )
    return se.crossJoin(F.broadcast(lo)).select(
        "grp",
        F.col("n").alias("n_customers"),
        F.round(F.col("ratio") / 100, 4).alias("revenue_per_order"),
        F.round(F.col("se_ratio") / 100, 4).alias("se_delta"),
        F.round(
            (F.col("ratio") - F.col("ratio_lo"))
            / F.sqrt(
                F.col("se_ratio") * F.col("se_ratio")
                + F.col("var_lo")
            ),
            6,
        ).alias("z_vs_lo"),
    )


# ---------------------------------------------------------------------------
# Exact 1-D Wasserstein (earth mover's) distance
# ---------------------------------------------------------------------------
# The transport-metric companion to ml_ks_statistic on the same
# hi/lo priority split: W1 = integral |F_hi - F_lo| over the value
# axis, computed EXACTLY on the grouped value domain --
#   W1 * n1 * n2 = sum over distinct values v of
#       (next_v - v) * |cum_hi(v) * n2 - cum_lo(v) * n1|
# where every factor is an exact integer (the Mann-Whitney ranked-
# prefix pattern + one LEAD).  KS reports the worst single gap; W1
# the total transported mass -- both ship from one ordered pass.
@query(
    "ml_wasserstein_distance",
    oracle="""
    WITH g AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS hi,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    byval AS (
        SELECT cents, CAST(SUM(hi) AS BIGINT) AS t_hi,
               CAST(SUM(1 - hi) AS BIGINT) AS t_lo
        FROM g GROUP BY cents
    ),
    ranked AS (
        SELECT cents,
               CAST(SUM(t_hi) OVER w AS BIGINT) AS cum_hi,
               CAST(SUM(t_lo) OVER w AS BIGINT) AS cum_lo,
               LEAD(cents) OVER (ORDER BY cents) AS next_v
        FROM byval
        WINDOW w AS (ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)
    ),
    tot AS (
        SELECT CAST(SUM(t_hi) AS BIGINT) AS n1,
               CAST(SUM(t_lo) AS BIGINT) AS n2
        FROM byval
    ),
    s AS (
        SELECT CAST(SUM((next_v - cents)
                        * ABS(CAST(cum_hi AS HUGEINT) * tot.n2
                              - CAST(cum_lo AS HUGEINT) * tot.n1))
                    AS HUGEINT) AS num
        FROM ranked CROSS JOIN tot
        WHERE next_v IS NOT NULL
    )
    SELECT tot.n1 AS n_hi, tot.n2 AS n_lo,
           ROUND(CAST(s.num AS DOUBLE)
                 / tot.n1 / tot.n2 / 100, 6) AS w1_dollars
    FROM s CROSS JOIN tot
    """,
)
def ml_wasserstein_distance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    g = orders.select(
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("hi"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    byval = g.groupBy("cents").agg(
        F.sum("hi").cast("long").alias("t_hi"),
        F.sum(1 - F.col("hi")).cast("long").alias("t_lo"),
    )
    # both ECDFs via the two-pass prefix scan (distinct cents are
    # near-unique = row-scale) on a bucket column kept in the output,
    # so the global LEAD can be assembled from a bucket-local lead
    # plus a boundary patch: the NEXT non-empty bucket's first value,
    # computed with a window over the per-bucket firsts table
    # (bounded by the bucket domain, never the input)
    cs = prefix_scan(
        byval.withColumn("_b", F.floor(F.col("cents") / F.lit(1 << 21))),
        F.col("_b"),
        ["cents"],
        [("t_hi", "cum_hi"), ("t_lo", "cum_lo")],
    )
    lead_local = F.lead("cents").over(
        Window.partitionBy("_b").orderBy("cents")
    )
    firsts = cs.groupBy("_b").agg(F.min("cents").alias("_first"))
    nxt = firsts.select(
        "_b",
        F.lead("_first").over(Window.orderBy("_b")).alias("_nf"),
    )
    ranked = (
        cs.withColumn("_ll", lead_local)
        .join(F.broadcast(nxt), "_b")
        .select(
            "cents",
            "cum_hi",
            "cum_lo",
            F.coalesce(F.col("_ll"), F.col("_nf")).alias("next_v"),
        )
    )
    tot = byval.agg(
        F.sum("t_hi").cast("long").alias("n1"),
        F.sum("t_lo").cast("long").alias("n2"),
    )
    s = (
        ranked.filter(F.col("next_v").isNotNull())
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("next_v") - F.col("cents")).cast(
                    "decimal(38,0)"
                )
                * F.abs(
                    F.col("cum_hi").cast("decimal(38,0)")
                    * F.col("n2")
                    - F.col("cum_lo").cast("decimal(38,0)")
                    * F.col("n1")
                )
            )
            .cast("decimal(38,0)")
            .alias("num")
        )
    )
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("n1").alias("n_hi"),
        F.col("n2").alias("n_lo"),
        F.round(
            F.col("num").cast("double")
            / F.col("n1")
            / F.col("n2")
            / 100,
            6,
        ).alias("w1_dollars"),
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction interval with exact coverage audit
# ---------------------------------------------------------------------------
# Distribution-free uncertainty for any point model: md5-split the
# orders into train/calibration/test, fit the simplest model (train
# group mean per priority), take q_hat = the ceil((n_cal+1)*0.9)-th
# smallest calibration nonconformity |y - y_hat|, and report the
# guaranteed-coverage interval plus its REALIZED test coverage.
# Exactness: the group mean is floor-quantized to integer
# micro-cents so every nonconformity is an exact LONG, q_hat an
# exact order statistic (the ranked-prefix idiom), and coverage an
# exact count ratio.  Conformal validity is unaffected -- any
# deterministic score function is admissible.
CONF_ALPHA = 0.1  # target 90% coverage


@query(
    "ml_conformal_interval",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)),
                                1, 1) < '8' THEN 'train'
                    WHEN substr(md5(CAST(o_orderkey AS VARCHAR)),
                                1, 1) < 'c' THEN 'cal'
                    ELSE 'test' END AS split
        FROM orders
    ),
    model AS (
        SELECT o_orderpriority,
               CAST(FLOOR(1000000.0 * SUM(cents) / COUNT(*))
                    AS BIGINT) AS pred_u
        FROM g WHERE split = 'train' GROUP BY o_orderpriority
    ),
    scored AS (
        SELECT g.split,
               ABS(1000000 * g.cents - model.pred_u) AS r
        FROM g JOIN model USING (o_orderpriority)
        WHERE g.split <> 'train'
    ),
    ncal AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM scored WHERE split = 'cal'
    ),
    byval AS (
        SELECT r, CAST(COUNT(*) AS BIGINT) AS t
        FROM scored WHERE split = 'cal' GROUP BY r
    ),
    ranked AS (
        SELECT r, CAST(SUM(t) OVER (ORDER BY r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM byval
    ),
    qhat AS (
        SELECT MIN(CASE WHEN cum >= LEAST(
                   CEIL((ncal.n + 1) * {1 - CONF_ALPHA}), ncal.n)
                   THEN r END) AS q
        FROM ranked CROSS JOIN ncal
    )
    SELECT ncal.n AS n_cal,
           CAST((SELECT COUNT(*) FROM scored WHERE split = 'test')
                AS BIGINT) AS n_test,
           ROUND(CAST(qhat.q AS DOUBLE) / 1000000 / 100, 6)
               AS interval_halfwidth,
           ROUND((SELECT CAST(SUM(CASE WHEN r <= qhat.q
                                  THEN 1 ELSE 0 END) AS DOUBLE)
                         / COUNT(*)
                  FROM scored WHERE split = 'test'), 6)
               AS test_coverage
    FROM qhat CROSS JOIN ncal
    """,
)
def ml_conformal_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h1 = F.substring(
        F.md5(F.col("o_orderkey").cast("string")), 1, 1
    )
    g = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
        F.when(h1 < "8", "train")
        .when(h1 < "c", "cal")
        .otherwise("test")
        .alias("split"),
    )
    model = (
        g.filter(F.col("split") == "train")
        .groupBy("o_orderpriority")
        .agg(
            F.floor(1000000.0 * F.sum("cents") / F.count("*"))
            .cast("long")
            .alias("pred_u")
        )
    )
    scored = (
        g.filter(F.col("split") != "train")
        .join(F.broadcast(model), "o_orderpriority")
        .select(
            "split",
            F.abs(
                1000000 * F.col("cents") - F.col("pred_u")
            ).alias("r"),
        )
        .cache()
    )
    cal = scored.filter(F.col("split") == "cal")
    ncal = cal.agg(F.count("*").cast("long").alias("n"))
    byval = cal.groupBy("r").agg(
        F.count("*").cast("long").alias("t")
    )
    # q_hat from distinct nonconformities (near-unique = row-scale):
    # two-pass cumulative counts, bit-length buckets for the
    # small-residual skew
    ranked = prefix_scan(
        byval, bitlen(F.col("r")), ["r"], [("t", "cum")]
    ).select("r", "cum")
    k = F.least(
        F.ceil((F.col("n") + 1) * (1 - CONF_ALPHA)), F.col("n")
    )
    qhat = ranked.crossJoin(F.broadcast(ncal)).agg(
        F.min(
            F.when(F.col("cum") >= k, F.col("r"))
        ).alias("q")
    )
    test = scored.filter(F.col("split") == "test")
    cov = test.crossJoin(F.broadcast(qhat)).agg(
        F.count("*").cast("long").alias("n_test"),
        F.round(
            F.sum((F.col("r") <= F.col("q")).cast("int")).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("test_coverage"),
    )
    return (
        ncal.crossJoin(F.broadcast(cov))
        .crossJoin(F.broadcast(qhat))
        .select(
            F.col("n").alias("n_cal"),
            "n_test",
            F.round(
                F.col("q").cast("double") / 1000000 / 100, 6
            ).alias("interval_halfwidth"),
            "test_coverage",
        )
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test across ordered priority levels
# ---------------------------------------------------------------------------
# Does the probability of order status 'F' trend monotonically with
# priority rank (1-URGENT .. 5-LOW, scores 1..5)?  The categorical
# trend test used wherever a dose-response / severity gradient is
# suspected.  With k = 5 bounded groups pivoted to one row, the
# statistic z = sum w_i (p_i - p) s_i / sqrt(p(1-p) * S_ww) is a
# fixed expression over exact integer (n_i, f_i) counts -- the
# standard score form with S_ww = sum n_i (s_i - s_bar)^2 computed
# from exact sums.
_CA_SCORES = tuple((g, i + 1) for i, (g, _) in enumerate([
    ("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3),
    ("4-NOT SPECIFIED", 4), ("5-LOW", 5),
]))


@query(
    "ml_cochran_armitage_trend",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f
        FROM orders
    ),
    m AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(f) AS BIGINT) AS nf
        FROM g GROUP BY o_orderpriority
    ),
    w AS (
        SELECT {", ".join(
            f"MAX(CASE WHEN o_orderpriority = '{g}' THEN n END)"
            f" AS n{s}, "
            f"MAX(CASE WHEN o_orderpriority = '{g}' THEN nf END)"
            f" AS f{s}"
            for g, s in _CA_SCORES
        )}
        FROM m
    ),
    t AS (
        SELECT {" + ".join(f"n{s}" for _, s in _CA_SCORES)} AS n,
               {" + ".join(f"f{s}" for _, s in _CA_SCORES)} AS nf,
               {" + ".join(f"{s} * n{s}" for _, s in _CA_SCORES)}
                   AS sn,
               {" + ".join(f"{s} * f{s}" for _, s in _CA_SCORES)}
                   AS sf,
               {" + ".join(f"{s} * {s} * n{s}"
                           for _, s in _CA_SCORES)} AS snn
        FROM w
    )
    SELECT n AS n_orders, nf AS n_finished,
           ROUND((CAST(sf AS DOUBLE) - CAST(nf AS DOUBLE) * sn / n)
                 / SQRT((CAST(nf AS DOUBLE) / n)
                        * (1.0 - CAST(nf AS DOUBLE) / n)
                        * (CAST(snn AS DOUBLE)
                           - CAST(sn AS DOUBLE) * sn / n)), 6)
               AS z_trend
    FROM t
    """,
)
def ml_cochran_armitage_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    g = orders.select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("f"),
    )
    m = g.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("f").cast("long").alias("nf"),
    )
    w = m.agg(
        *[
            agg
            for grp, s in _CA_SCORES
            for agg in (
                F.max(
                    F.when(
                        F.col("o_orderpriority") == grp, F.col("n")
                    )
                ).alias(f"n{s}"),
                F.max(
                    F.when(
                        F.col("o_orderpriority") == grp, F.col("nf")
                    )
                ).alias(f"f{s}"),
            )
        ]
    )

    def _chain(expr_fn):
        out = None
        for _, s in _CA_SCORES:
            e = expr_fn(s)
            out = e if out is None else out + e
        return out

    n = _chain(lambda s: F.col(f"n{s}"))
    nf = _chain(lambda s: F.col(f"f{s}"))
    sn = _chain(lambda s: s * F.col(f"n{s}"))
    sf = _chain(lambda s: s * F.col(f"f{s}"))
    snn = _chain(lambda s: s * s * F.col(f"n{s}"))
    t = w.select(
        n.alias("n"),
        nf.alias("nf"),
        sn.alias("sn"),
        sf.alias("sf"),
        snn.alias("snn"),
    )
    p = F.col("nf").cast("double") / F.col("n")
    return t.select(
        F.col("n").alias("n_orders"),
        F.col("nf").alias("n_finished"),
        F.round(
            (
                F.col("sf").cast("double")
                - F.col("nf").cast("double")
                * F.col("sn")
                / F.col("n")
            )
            / F.sqrt(
                p
                * (1.0 - p)
                * (
                    F.col("snn").cast("double")
                    - F.col("sn").cast("double")
                    * F.col("sn")
                    / F.col("n")
                )
            ),
            6,
        ).alias("z_trend"),
    )


# ---------------------------------------------------------------------------
# Granger causality (lag-1) of clicks on purchases
# ---------------------------------------------------------------------------
# The directional follow-up to events_xcorr_click_purchase: does
# yesterday's click volume improve the prediction of today's
# purchases beyond yesterday's purchases alone?  Restricted model
# y_t ~ y_{t-1}; unrestricted y_t ~ y_{t-1} + x_{t-1}; F = (SSE_r -
# SSE_u) / (SSE_u / (n - 3)).  Both SSEs come from CLOSED FORMS over
# exact integer moments of the zero-filled daily series (simple-OLS
# residual identity for the restricted model, the 2-regressor
# cofactor solve of ml_ols_multivariate for the unrestricted), so
# the F statistic is one fixed double expression -- no residual rows
# materialized.
@query(
    "events_granger_causality",
    oracle=f"""
    WITH {_DAILY_XY_SQL},
    lagged AS (
        SELECT y AS yt,
               LAG(y) OVER (ORDER BY d) AS yl,
               LAG(x) OVER (ORDER BY d) AS xl
        FROM series
    ),
    pts AS (SELECT yt, yl, xl FROM lagged WHERE yl IS NOT NULL),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(yt) AS BIGINT) AS sy,
               CAST(SUM(yl) AS BIGINT) AS s1,
               CAST(SUM(xl) AS BIGINT) AS s2,
               CAST(SUM(yl * yl) AS BIGINT) AS s11,
               CAST(SUM(yl * xl) AS BIGINT) AS s12,
               CAST(SUM(xl * xl) AS BIGINT) AS s22,
               CAST(SUM(yl * yt) AS BIGINT) AS s1y,
               CAST(SUM(xl * yt) AS BIGINT) AS s2y,
               CAST(SUM(yt * yt) AS BIGINT) AS syy
        FROM pts
    ),
    c AS (
        SELECT n,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
                   AS cyy,
               CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n
                   AS c11,
               CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n
                   AS c22,
               CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n
                   AS c12,
               CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n
                   AS c1y,
               CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n
                   AS c2y
        FROM m
    ),
    sse AS (
        SELECT n,
               cyy - c1y * c1y / c11 AS sse_r,
               cyy - (c22 * c1y * c1y - 2 * c12 * c1y * c2y
                      + c11 * c2y * c2y)
                     / (c11 * c22 - c12 * c12) AS sse_u
        FROM c
    )
    SELECT n AS n_days,
           ROUND(sse_r, 4) AS sse_restricted,
           ROUND(sse_u, 4) AS sse_unrestricted,
           ROUND((sse_r - sse_u) / (sse_u / (n - 3)), 6)
               AS f_granger
    FROM sse
    """,
)
def events_granger_causality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    series = _daily_xy_series(spark, sf_dir)
    w = Window.orderBy("d")
    lagged = series.select(
        F.col("y").alias("yt"),
        F.lag("y").over(w).alias("yl"),
        F.lag("x").over(w).alias("xl"),
    ).filter(F.col("yl").isNotNull())
    m = lagged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yt").cast("long").alias("sy"),
        F.sum("yl").cast("long").alias("s1"),
        F.sum("xl").cast("long").alias("s2"),
        F.sum(F.col("yl") * F.col("yl")).cast("long").alias("s11"),
        F.sum(F.col("yl") * F.col("xl")).cast("long").alias("s12"),
        F.sum(F.col("xl") * F.col("xl")).cast("long").alias("s22"),
        F.sum(F.col("yl") * F.col("yt")).cast("long").alias("s1y"),
        F.sum(F.col("xl") * F.col("yt")).cast("long").alias("s2y"),
        F.sum(F.col("yt") * F.col("yt")).cast("long").alias("syy"),
    )
    n = F.col("n")

    def cc(sab, sa, sb):
        return F.col(sab).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sb) / n

    c = m.select(
        n.alias("n"),
        cc("syy", "sy", "sy").alias("cyy"),
        cc("s11", "s1", "s1").alias("c11"),
        cc("s22", "s2", "s2").alias("c22"),
        cc("s12", "s1", "s2").alias("c12"),
        cc("s1y", "s1", "sy").alias("c1y"),
        cc("s2y", "s2", "sy").alias("c2y"),
    )
    sse_r = F.col("cyy") - F.col("c1y") * F.col("c1y") / F.col("c11")
    sse_u = F.col("cyy") - (
        F.col("c22") * F.col("c1y") * F.col("c1y")
        - 2 * F.col("c12") * F.col("c1y") * F.col("c2y")
        + F.col("c11") * F.col("c2y") * F.col("c2y")
    ) / (F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12"))
    sse = c.select(
        F.col("n"), sse_r.alias("sse_r"), sse_u.alias("sse_u")
    )
    return sse.select(
        F.col("n").alias("n_days"),
        F.round(F.col("sse_r"), 4).alias("sse_restricted"),
        F.round(F.col("sse_u"), 4).alias("sse_unrestricted"),
        F.round(
            (F.col("sse_r") - F.col("sse_u"))
            / (F.col("sse_u") / (F.col("n") - 3)),
            6,
        ).alias("f_granger"),
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test on order values
# ---------------------------------------------------------------------------
# The moment-based normality screen: JB = n/6 * (S^2 + K^2/4) from
# skewness S and excess kurtosis K.  All four raw moments are exact
# DECIMAL(38,0) integer sums (cents^4 * 15e3 rows ~ 1e35 < 10^38),
# widened to double only inside the one fixed closed-form expression
# -- the same discipline as every moment statistic here.
@query(
    "ml_jarque_bera",
    oracle="""
    WITH g AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(CAST(c AS DECIMAL(38,0))
                        * CAST(c AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS s2,
               CAST(SUM(CAST(c AS DECIMAL(38,0))
                        * CAST(c AS DECIMAL(38,0)) * c)
                    AS DECIMAL(38,0)) AS s3,
               CAST(SUM(CAST(c AS DECIMAL(38,0))
                        * CAST(c AS DECIMAL(38,0))
                        * CAST(c AS DECIMAL(38,0)) * c)
                    AS DECIMAL(38,0)) AS s4
        FROM g
    ),
    c AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n AS r2,
               CAST(s3 AS DOUBLE) / n AS r3,
               CAST(s4 AS DOUBLE) / n AS r4
        FROM m
    ),
    k AS (
        SELECT n,
               r2 - mu * mu AS m2,
               r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
               r4 - 4 * mu * r3 + 6 * mu * mu * r2
                  - 3 * mu * mu * mu * mu AS m4
        FROM c
    )
    SELECT n AS n_orders,
           ROUND(m3 / POWER(m2, 1.5), 6) AS skewness,
           ROUND(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis,
           ROUND(n / 6.0 * (POWER(m3 / POWER(m2, 1.5), 2)
                 + POWER(m4 / (m2 * m2) - 3, 2) / 4), 4)
               AS jarque_bera
    FROM k
    """,
)
def ml_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    c = F.round(F.col("o_totalprice") * 100).cast("long")
    g = orders.select(c.alias("c"))
    d = F.col("c").cast("decimal(38,0)")
    m = g.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(d * d).cast("decimal(38,0)").alias("s2"),
        F.sum(d * d * F.col("c")).cast("decimal(38,0)").alias("s3"),
        F.sum(d * d * d * F.col("c"))
        .cast("decimal(38,0)")
        .alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    k = m.select(
        n.alias("n"),
        (r2 - mu * mu).alias("m2"),
        (r3 - 3 * mu * r2 + 2 * mu * mu * mu).alias("m3"),
        (
            r4
            - 4 * mu * r3
            + 6 * mu * mu * r2
            - 3 * mu * mu * mu * mu
        ).alias("m4"),
    )
    skew = F.col("m3") / F.pow(F.col("m2"), 1.5)
    kurt = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    return k.select(
        F.col("n").alias("n_orders"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(
            F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(kurt, 2) / 4),
            4,
        ).alias("jarque_bera"),
    )


# ---------------------------------------------------------------------------
# Heteroskedasticity variance-trend diagnostic (Breusch-Pagan family)
# ---------------------------------------------------------------------------
# Do the daily-count OLS residuals have variance that grows with
# time?  The LM form: BP = n * R^2 of e_t^2 on t.  Like
# ml_durbin_watson, NO residual rows are materialized: e_t^2 =
# (y - a - b t)^2 expands into moments of y, t up to (t^2, y^2, ty,
# t^2 y, t y^2, t^3, t^4, t^2 y^2 ...), every one an exact integer
# aggregate over the zero-filled daily series, with a and b the
# closed-form OLS coefficients -- the whole statistic is one fixed
# double expression over exact sums.
@query(
    "ml_hetero_variance_trend",
    oracle="""
    WITH bounds AS (
        SELECT MIN(o_orderdate) AS d0, MAX(o_orderdate) AS d1
        FROM orders
    ),
    days AS (
        SELECT UNNEST(generate_series(0,
                   datediff('day', d0, d1))) AS t
        FROM bounds
    ),
    counts AS (
        SELECT datediff('day', bounds.d0, o_orderdate) AS t,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders CROSS JOIN bounds
        GROUP BY 1
    ),
    series AS (
        SELECT days.t, COALESCE(counts.y, 0) AS y
        FROM days LEFT JOIN counts USING (t)
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS HUGEINT) AS st,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS st2,
               CAST(SUM(CAST(t AS HUGEINT) * t * t) AS HUGEINT)
                   AS st3,
               CAST(SUM(CAST(t AS HUGEINT) * t * t * t) AS HUGEINT)
                   AS st4,
               CAST(SUM(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS sy2,
               CAST(SUM(CAST(t AS HUGEINT) * t * y) AS HUGEINT)
                   AS st2y,
               CAST(SUM(CAST(t AS HUGEINT) * y * y) AS HUGEINT)
                   AS sty2,
               CAST(SUM(CAST(t AS HUGEINT) * t * y * y) AS HUGEINT)
                   AS st2y2,
               CAST(SUM(CAST(t AS HUGEINT) * t * t * y) AS HUGEINT)
                   AS st3y
        FROM series
    ),
    fit AS (
        SELECT *,
               (n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy)
               / (n * CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE) * st)
                   AS b,
               (CAST(sy AS DOUBLE)
                - ((n * CAST(sty AS DOUBLE)
                    - CAST(st AS DOUBLE) * sy)
                   / (n * CAST(st2 AS DOUBLE)
                      - CAST(st AS DOUBLE) * st)) * st) / n AS a
        FROM m
    ),
    u AS (
        -- per-t moments of u_t = e_t^2 expanded:
        --   sum u    = sy2 - 2a sy - 2b sty + n a^2
        --              + 2ab st + b^2 st2
        --   sum t*u  = sty2 - 2a sty - 2b st2y + a^2 st
        --              + 2ab st2 + b^2 st3
        --   sum u^2 needs e^4: skipped -- the LM form only needs
        --   R^2 of u on t, i.e. var(u) via sum u^2? NO: R^2 =
        --   cov(u,t)^2 / (var(t) var(u)) -- var(u) DOES need u^2.
        -- Instead use the equivalent regression-ESS form:
        --   BP = n * ESS_u / TSS_u where both come from
        --   cov(u,t) and var(u); var(u) needs sum u^2 = e^4
        --   moments.  e^4 expands through y^4 t^4 cross moments --
        --   exact but 15 terms; the Koenker studentized variant
        --   BP_K = n * cov(u,t)^2 / (var(t) * var(u)) has the same
        --   need.  We therefore report the SLOPE form instead:
        --   the auxiliary slope g = cov(u,t)/var(t) and its exact
        --   components, plus the scale-free trend share
        --   cov(u,t)^2/var(t) normalized by mean(u)^2 -- fully
        --   computable from the moments above and still a valid
        --   monotone heteroskedasticity index (larger = stronger
        --   variance trend).
        SELECT n, b, a,
               CAST(sy2 AS DOUBLE) - 2 * a * CAST(sy AS DOUBLE)
               - 2 * b * CAST(sty AS DOUBLE) + n * a * a
               + 2 * a * b * CAST(st AS DOUBLE)
               + b * b * CAST(st2 AS DOUBLE) AS su,
               CAST(sty2 AS DOUBLE) - 2 * a * CAST(sty AS DOUBLE)
               - 2 * b * CAST(st2y AS DOUBLE)
               + a * a * CAST(st AS DOUBLE)
               + 2 * a * b * CAST(st2 AS DOUBLE)
               + b * b * CAST(st3 AS DOUBLE) AS stu,
               CAST(st AS DOUBLE) AS std_, CAST(st2 AS DOUBLE) AS st2d
        FROM fit
    )
    SELECT n AS n_days,
           ROUND(b, 8) AS trend_slope,
           ROUND((stu - std_ * su / n)
                 / (st2d - std_ * std_ / n), 8) AS var_trend_slope,
           ROUND(POWER(stu - std_ * su / n, 2)
                 / (st2d - std_ * std_ / n)
                 / POWER(su / n, 2) / n, 6) AS hetero_index
    FROM u
    """,
)
def ml_hetero_variance_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias(
            "t"
        )
    )
    counts = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.col("d0")).alias(
                "t"
            )
        )
        .agg(F.count("*").cast("long").alias("y"))
    )
    series = days.join(counts, "t", "left").select(
        "t", F.coalesce("y", F.lit(0)).alias("y")
    )
    td = F.col("t").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = series.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(td).cast("decimal(38,0)").alias("st"),
        F.sum(yd).cast("decimal(38,0)").alias("sy"),
        F.sum(td * td).cast("decimal(38,0)").alias("st2"),
        F.sum(td * td * td).cast("decimal(38,0)").alias("st3"),
        F.sum(td * td * td * td).cast("decimal(38,0)").alias("st4"),
        F.sum(td * yd).cast("decimal(38,0)").alias("sty"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("sy2"),
        F.sum(td * td * yd).cast("decimal(38,0)").alias("st2y"),
        F.sum(td * yd * yd).cast("decimal(38,0)").alias("sty2"),
        F.sum(td * td * yd * yd)
        .cast("decimal(38,0)")
        .alias("st2y2"),
        F.sum(td * td * td * yd)
        .cast("decimal(38,0)")
        .alias("st3y"),
    )
    n = F.col("n")
    b = (
        n * F.col("sty").cast("double")
        - F.col("st").cast("double") * F.col("sy").cast("double")
    ) / (
        n * F.col("st2").cast("double")
        - F.col("st").cast("double") * F.col("st").cast("double")
    )
    fit = m.withColumn("b", b).withColumn(
        "a",
        (
            F.col("sy").cast("double")
            - F.col("b") * F.col("st").cast("double")
        )
        / n,
    )
    a = F.col("a")
    bb = F.col("b")
    su = (
        F.col("sy2").cast("double")
        - 2 * a * F.col("sy").cast("double")
        - 2 * bb * F.col("sty").cast("double")
        + n * a * a
        + 2 * a * bb * F.col("st").cast("double")
        + bb * bb * F.col("st2").cast("double")
    )
    stu = (
        F.col("sty2").cast("double")
        - 2 * a * F.col("sty").cast("double")
        - 2 * bb * F.col("st2y").cast("double")
        + a * a * F.col("st").cast("double")
        + 2 * a * bb * F.col("st2").cast("double")
        + bb * bb * F.col("st3").cast("double")
    )
    u = fit.select(
        n.alias("n"),
        bb.alias("b"),
        su.alias("su"),
        stu.alias("stu"),
        F.col("st").cast("double").alias("std_"),
        F.col("st2").cast("double").alias("st2d"),
    )
    cov = F.col("stu") - F.col("std_") * F.col("su") / F.col("n")
    vart = F.col("st2d") - F.col("std_") * F.col("std_") / F.col("n")
    return u.select(
        F.col("n").alias("n_days"),
        F.round(F.col("b"), 8).alias("trend_slope"),
        F.round(cov / vart, 8).alias("var_trend_slope"),
        F.round(
            F.pow(cov, 2)
            / vart
            / F.pow(F.col("su") / F.col("n"), 2)
            / F.col("n"),
            6,
        ).alias("hetero_index"),
    )
