"""Aggregation family (SURVEY ops A1-A5 + par.2.4 engine surface:
sums/avgs/min/max, distinct counts, rollup/cube).

The reference computes aggregates either as N+1 loops of filtered
COUNTs (companies/route.ts:56-79) or JS-side tallies over pulled rows
(route.ts:86-92, send/route.ts:125-128).  Every one becomes a single
partial+final hash aggregate here -- map-side combine means the shuffle
carries one row per (partition x group), not per input row.

Money sums follow the decimal-cast convention from
``functions.scalars`` so results are order-independent and
oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.prefix import prefix_scan
from ..functions.scalars import dec_avg, dec_avg_sql, dec_sum, dec_sum_sql
from ..registry import query
from ..sources.ledger_fixture import SENT_LEDGER_SQL, sent_ledger
from ..sources.loaders import load_table


# -- A2: grouped count of the sent ledger keyed by bucket, NULL bucket
#    coalesced to 'unknown' (companies/route.ts:86-92).
@query(
    "agg_sent_counts_by_segment",
    oracle=f"""
    WITH ledger AS ({SENT_LEDGER_SQL})
    SELECT COALESCE(c.c_mktsegment, 'unknown') AS segment,
           COUNT(*) AS sent
    FROM ledger l
    LEFT JOIN customer c ON c.c_custkey = l.company_id
    GROUP BY COALESCE(c.c_mktsegment, 'unknown')
    """,
)
def agg_sent_counts_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ledger = sent_ledger(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    return (
        ledger.join(
            customer, ledger.company_id == customer.c_custkey, "left"
        )
        .groupBy(
            F.coalesce("c_mktsegment", F.lit("unknown")).alias("segment")
        )
        .agg(F.count("*").alias("sent"))
    )


# -- A3: conditional tally -- per-destination sent/failed counters
#    (send/route.ts:125-128).  Role-play: per priority, F-status vs not.
@query(
    "agg_conditional_tally",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS ok_cnt,
           CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS fail_cnt
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_conditional_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("ok_cnt"),
            F.sum(
                F.when(F.col("o_orderstatus") != "F", 1).otherwise(0)
            ).alias("fail_cnt"),
        )
    )


# -- par.2.4 surface: full numeric aggregate set over lineitem.
@query(
    "agg_numeric_stats",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           {dec_sum_sql('l_quantity', 'sum_qty')},
           {dec_avg_sql('l_extendedprice', 'avg_price')},
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           COUNT(DISTINCT l_partkey) AS distinct_parts
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            dec_sum("l_quantity", "sum_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.countDistinct("l_partkey").alias("distinct_parts"),
        )
    )


# -- par.2.4 surface: ROLLUP over two keys (subtotals + grand total).
@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           {dec_sum_sql('l_extendedprice', 'sum_price')}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            dec_sum("l_extendedprice", "sum_price"),
        )
    )


# -- par.2.4 surface: CUBE (all grouping-set combinations).
@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
    )


# -- A5: scalar capacity arithmetic (page.tsx:153-155,204-208):
#    remaining = total - sent; will_send = least(batch, available,
#    capacity); greatest clamps at zero.
@query(
    "agg_capacity_arithmetic",
    oracle=f"""
    WITH ledger AS ({SENT_LEDGER_SQL}),
    sentkeys AS (SELECT DISTINCT company_id FROM ledger),
    per_seg AS (
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS total,
               COUNT(s.company_id) AS sent
        FROM customer c
        LEFT JOIN sentkeys s ON s.company_id = c.c_custkey
        GROUP BY c.c_mktsegment
    )
    SELECT segment, total, sent,
           GREATEST(total - sent, 0) AS remaining,
           LEAST(100, GREATEST(total - sent, 0), 400) AS will_send
    FROM per_seg
    """,
)
def agg_capacity_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    ledger = sent_ledger(spark, sf_dir).withColumnRenamed(
        "company_id", "c_custkey"
    )
    flagged = customer.join(
        ledger.distinct().withColumn("is_sent", F.lit(1)),
        on="c_custkey",
        how="left",
    )
    per_seg = flagged.groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count("*").alias("total"),
        F.count("is_sent").alias("sent"),
    )
    remaining = F.greatest(F.col("total") - F.col("sent"), F.lit(0))
    return per_seg.select(
        "segment",
        "total",
        "sent",
        remaining.alias("remaining"),
        F.least(F.lit(100), remaining, F.lit(400)).alias("will_send"),
    )


# -- A4: batch-level audit counters (clay-webhook/index.ts:42-44):
#    received vs inserted per batch.  Role-play: events per user_id
#    batch, "inserted" = rows passing validation (value not null, >0).
@query(
    "agg_audit_counters",
    oracle="""
    SELECT user_id AS batch_id,
           COUNT(*) AS records_received,
           COUNT(*) FILTER (WHERE value IS NOT NULL AND value > 0)
               AS records_inserted,
           CASE WHEN COUNT(*) = COUNT(*) FILTER (
               WHERE value IS NOT NULL AND value > 0
           ) THEN 'success' ELSE 'partial' END AS status
    FROM events
    GROUP BY user_id
    """,
)
def agg_audit_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ok = F.col("value").isNotNull() & (F.col("value") > 0)
    return (
        events.groupBy(F.col("user_id").alias("batch_id"))
        .agg(
            F.count("*").alias("records_received"),
            F.count(F.when(ok, 1)).alias("records_inserted"),
        )
        .withColumn(
            "status",
            F.when(
                F.col("records_received") == F.col("records_inserted"),
                F.lit("success"),
            ).otherwise(F.lit("partial")),
        )
    )


# -- par.2.4 surface: explicit GROUPING SETS (the general form rollup
#    and cube desugar to): per-flag totals and per-status totals in
#    one pass over the fact table, plus GROUPING_ID so consumers can
#    tell a subtotal NULL from a data NULL.
@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT)
               AS grouping_id,
           COUNT(*) AS cnt,
           {dec_sum_sql('l_extendedprice', 'sum_price')}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupingSets(
            [["l_returnflag"], ["l_linestatus"]],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("int").alias("grouping_id"),
            F.count("*").alias("cnt"),
            dec_sum("l_extendedprice", "sum_price"),
        )
    )


# -- incremental aggregate maintenance (engine surface): refresh a
#    materialized per-customer rollup from a delta WITHOUT rescanning
#    the base -- the core of incremental view maintenance and of every
#    streaming partial-agg merge.  COUNT and decimal-SUM are
#    partial-mergeable, so merged(base, delta) == full rescan; the
#    oracle IS the full rescan, so the equivalence is what the hash
#    checks.  At 100 TB the base partial is a small table (one row
#    per group), and the delta is the day's arrivals: the refresh
#    touches delta-sized data only.
IVM_SPLIT_DATE = "1997-01-01"


@query(
    "agg_incremental_maintenance",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY o_custkey
    """,
)
def agg_incremental_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias(
                "sum_dec"
            ),
        )

    base = partial(orders.filter(F.col("o_orderdate") < IVM_SPLIT_DATE))
    delta = partial(orders.filter(F.col("o_orderdate") >= IVM_SPLIT_DATE))
    b = base.select(
        "o_custkey",
        F.col("cnt").alias("b_cnt"),
        F.col("sum_dec").alias("b_sum"),
    )
    d = delta.select(
        "o_custkey",
        F.col("cnt").alias("d_cnt"),
        F.col("sum_dec").alias("d_sum"),
    )
    zero = F.lit(0).cast("decimal(30,4)")
    return b.join(d, on="o_custkey", how="full_outer").select(
        "o_custkey",
        (
            F.coalesce("b_cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0))
        ).alias("n_orders"),
        (F.coalesce("b_sum", zero) + F.coalesce("d_sum", zero))
        .cast("double")
        .alias("total_price"),
    )


# -- fixed-width histogram (engine surface): the one-pass binning
#    behind every dashboard distribution chart.  Bin = floor(x/width)
#    computed identically in both engines (no width_bucket: DuckDB
#    lacks it, and floor arithmetic is the portable core anyway).
HIST_BIN_WIDTH = 50_000


@query(
    "agg_histogram_fixed_bins",
    oracle=f"""
    SELECT CAST(FLOOR(o_totalprice / {HIST_BIN_WIDTH}) AS INT) AS bin,
           CAST(FLOOR(o_totalprice / {HIST_BIN_WIDTH}) AS INT)
               * {HIST_BIN_WIDTH} AS bin_lo,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CAST(FLOOR(o_totalprice / {HIST_BIN_WIDTH}) AS INT)
    """,
)
def agg_histogram_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bin_ = F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH).cast("int")
    return (
        orders.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n_orders"))
        .select(
            "bin",
            (F.col("bin") * HIST_BIN_WIDTH).alias("bin_lo"),
            "n_orders",
        )
    )


# -- correlation / covariance / stddev per group (engine surface).
#    Built-in corr()/covar_samp() sum doubles in partition order, so
#    per-group results can wobble in final ULPs across runs and
#    engines.  Instead: exact decimal moment sums (order-independent,
#    partial-mergeable -- the same property the money sums rely on),
#    then one identical double-arithmetic epilogue on both sides.
_M = "decimal(38,8)"


@query(
    "agg_correlation_stats",
    oracle="""
    WITH m AS (
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,8)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,8)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,8))
                        * CAST(l_extendedprice AS DECIMAL(38,8)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))
                        * CAST(l_quantity AS DECIMAL(38,8)))
                    AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,8))
                        * CAST(l_quantity AS DECIMAL(38,8)))
                    AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((sxy - sx * sy / n) / (n - 1), 4) AS covar_pq,
           ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS stddev_price,
           ROUND((sxy - sx * sy / n)
                 / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
               AS corr_pq
    FROM m
    """,
)
def agg_correlation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast(_M)
    y = F.col("l_quantity").cast(_M)
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        "n",
        F.round((sxy - sx * sy / n) / (n - 1), 4).alias("covar_pq"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 4).alias(
            "stddev_price"
        ),
        F.round(
            (sxy - sx * sy / n)
            / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)),
            6,
        ).alias("corr_pq"),
    )


# -- order-independent table checksum (engine surface): anti-entropy
#    for feed reconciliation -- two replicas (or a source and its
#    re-delivery) compare one row per group instead of row-by-row.
#    Row fingerprint = 60 bits of md5 over a canonical '|'-joined
#    projection (md5 is the one hash both engines share); the group
#    checksum is the SUM of fingerprints, which is commutative, so
#    partition order -- and at 100 TB, partitioning itself -- cannot
#    change it.  Sums run in DECIMAL(38,0): 2^60 x row-count never
#    overflows.
@query(
    "audit_table_checksum",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_rows,
           -- VARCHAR: the ~2^60-scale decimal checksum exceeds 2^53,
           -- so pandas float64 would lose precision on the DuckDB
           -- side; decimal->string is exact in both engines.
           CAST(SUM(CAST(CAST(concat('0x', substr(md5(
                   concat_ws('|', c_custkey, c_name, c_nationkey)
               ), 1, 15)) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR)
               AS checksum
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def audit_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    fp = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", "c_custkey", "c_name", "c_nationkey"
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("decimal(38,0)")
        .alias("fp")
    )
    return (
        customer.select("c_mktsegment", fp)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("fp").cast("string").alias("checksum"),
        )
    )


#: KMV sketch size (k minimum hash values); estimate = (k-1)/h_k
KMV_K = 64
_KMV_BITS = 48  # 12 hex chars -> exact in a double


@query(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT CAST(concat('0x', substr(
                   md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
                   AS hv
        FROM events
    ),
    mink AS (
        SELECT hv FROM h ORDER BY hv LIMIT {KMV_K}
    ),
    truth AS (SELECT COUNT(*) AS exact_distinct FROM h)
    SELECT {KMV_K} AS k,
           truth.exact_distinct,
           ROUND(({KMV_K} - 1)
                 / (CAST(MAX(mink.hv) AS DOUBLE)
                    / {2**_KMV_BITS}), 4) AS kmv_estimate
    FROM mink CROSS JOIN truth
    GROUP BY truth.exact_distinct
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch -- unlike HLL,
    fully DETERMINISTIC given the hash, so the sketch itself is
    oracle-checkable across engines (the HLL twin
    `agg_approx_sketches` is rows-only because register layouts are
    engine-specific).  The k smallest 48-bit md5 values estimate
    distinct as (k-1)/h_(k): mergeable (union = merge + re-truncate,
    the partial-aggregate law), fixed memory, and the distributed
    top-k is a TakeOrdered, never a global sort.  Exact distinct
    rides along for the error audit."""
    events = load_table(spark, sf_dir, "events")
    h = events.select(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 12),
            16,
            10,
        )
        .cast("long")
        .alias("hv")
    ).distinct()
    mink = h.orderBy("hv").limit(KMV_K)
    truth = h.agg(F.count("*").alias("exact_distinct"))
    return (
        mink.crossJoin(F.broadcast(truth))
        .groupBy("exact_distinct")
        .agg(
            F.round(
                (KMV_K - 1)
                / (F.max("hv").cast("double") / float(2**_KMV_BITS)),
                4,
            ).alias("kmv_estimate")
        )
        .select(F.lit(KMV_K).alias("k"), "exact_distinct", "kmv_estimate")
    )


@query(
    "events_activity_bitmap",
    oracle="""
    WITH b AS (
        SELECT user_id,
               CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS mo,
               bit_or(1::BIGINT << (CAST(day(CAST(ts AS TIMESTAMP))
                                         AS INT) - 1)) AS day_bitmap
        FROM events
        GROUP BY 1, 2
    )
    SELECT user_id, mo,
           CAST(day_bitmap AS BIGINT) AS day_bitmap,
           CAST(bit_count(day_bitmap) AS INT) AS active_days
    FROM b
    """,
)
def events_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user-month activity as a 31-bit day bitmap: ``bit_or`` of
    ``1 << (day-1)`` -- the roaring-bitmap-lite pattern for
    distinct-day counting and cohort overlap at 100 TB (bitmaps merge
    with OR in the partial aggregate, cost one long per user-month,
    and popcount replaces COUNT(DISTINCT day)).  Cross-engine exact:
    bit arithmetic has no rounding."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id",
            F.to_date(F.date_trunc("month", F.col("ts"))).alias("mo"),
        )
        .agg(
            F.bit_or(
                # shiftleft's Python binding wants a literal shift;
                # the expression form takes the per-row day offset
                F.expr("shiftleft(CAST(1 AS BIGINT), day(ts) - 1)")
            ).alias("day_bitmap")
        )
        .select(
            "user_id",
            "mo",
            F.col("day_bitmap").cast("long").alias("day_bitmap"),
            F.bit_count("day_bitmap").cast("int").alias("active_days"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------
# The other classic mergeable frequency sketch beside KMV (above):
# d=4 independent hash rows x w=256 counters.  The counter table is
# ~1 KB no matter the stream size and its cells are plain grouped
# counts -- fully map-side-combinable, mergeable across partitions /
# days / shards by cell-wise addition, which is the whole point at
# 100 TB (the exact vocabulary count table it approximates needs a
# vocab-sized shuffle; the sketch needs a 1024-row one).  Hashes are
# md5-derived so the DuckDB oracle reproduces the sketch EXACTLY --
# estimates and all -- making the one-sided error property
# (est >= true count) directly checkable per token.
#
# Heavy hitters = tokens whose CMS estimate clears 1% of the stream;
# the probe joins the bounded vocabulary against the broadcast
# counter grid and takes the min over the d rows.

_CMS_D = 4
_CMS_W = 256

from .text import _TOKENS_SQL as _CMS_TOKENS_SQL  # noqa: E402


def _cms_bucket_sql(d: str, tok: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat(CAST({d} AS VARCHAR),"
        f" ':', {tok})), 1, 4)) AS INT) % {_CMS_W}"
    )


def _cms_bucket(d: F.Column, tok: F.Column) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(d.cast("string"), F.lit(":"), tok)),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % _CMS_W
    )


@query(
    "sketch_cms_heavy_hitters",
    oracle=f"""
    WITH cnt AS (
        SELECT tok, COUNT(*) AS n
        FROM (SELECT unnest({_CMS_TOKENS_SQL}) AS tok FROM documents)
        GROUP BY tok
    ),
    total AS (
        SELECT CAST(FLOOR(CAST(SUM(n) AS DOUBLE) / 100) AS BIGINT)
            AS thresh
        FROM cnt
    ),
    grid AS (SELECT UNNEST(generate_series(0, {_CMS_D - 1})) AS d),
    counters AS (
        SELECT d, {_cms_bucket_sql("d", "tok")} AS b,
               CAST(SUM(n) AS BIGINT) AS c
        FROM cnt CROSS JOIN grid
        GROUP BY 1, 2
    ),
    est AS (
        SELECT cnt.tok, cnt.n, MIN(c) AS cms_est
        FROM cnt CROSS JOIN grid
        JOIN counters
          ON counters.d = grid.d
         AND counters.b = {_cms_bucket_sql("grid.d", "cnt.tok")}
        GROUP BY cnt.tok, cnt.n
    )
    SELECT tok AS token, n AS true_n, cms_est
    FROM est CROSS JOIN total
    WHERE cms_est >= thresh
    """,
)
def sketch_cms_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .text import _tokens

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            F.explode(_tokens(F.col("text"))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    thresh = cnt.agg(
        F.floor(F.sum("n").cast("double") / 100)
        .cast("long")
        .alias("thresh")
    )
    grid = spark.range(_CMS_D).select(F.col("id").cast("int").alias("d"))
    counters = (
        cnt.crossJoin(F.broadcast(grid))
        .groupBy(
            "d", _cms_bucket(F.col("d"), F.col("tok")).alias("b")
        )
        .agg(F.sum("n").cast("long").alias("c"))
    )
    est = (
        cnt.crossJoin(F.broadcast(grid))
        .withColumn("b", _cms_bucket(F.col("d"), F.col("tok")))
        .join(F.broadcast(counters), ["d", "b"])
        .groupBy("tok", "n")
        .agg(F.min("c").alias("cms_est"))
    )
    return (
        est.crossJoin(F.broadcast(thresh))
        .filter(F.col("cms_est") >= F.col("thresh"))
        .select(
            F.col("tok").alias("token"),
            F.col("n").alias("true_n"),
            "cms_est",
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch
# ---------------------------------------------------------------------------
# The canonical mergeable cardinality sketch beside KMV (above) and
# CMS: m=64 registers, each holding the max leading-zero rank seen in
# its hash substream.  Registers are MAX-aggregates -- map-side
# combinable and mergeable cell-wise, the 100 TB point.  Like the CMS
# the whole sketch is md5-derived and arithmetic-only (bit length via
# a generated comparison ladder, 2^-M from a quantized decimal table),
# so the DuckDB oracle reproduces every register and the estimate
# EXACTLY -- Spark's own approx_count_distinct is checked rows-only
# elsewhere (agg_approx_sketches); this one is exact-checkable.

_HLL_M = 64  # registers
_HLL_RANK_BITS = 26  # hash bits left after the bucket index
_HLL_ALPHA = 0.709  # bias constant for m=64
#: alpha*m^2 precomputed ONCE and spliced as the same double
#: literal into both engines (a 0.709*64*64 written in SQL would
#: evaluate in DuckDB's decimal arithmetic -- ULP-divergent from
#: the Python double product)
_HLL_AMM = _HLL_ALPHA * _HLL_M * _HLL_M

#: 2^-r for r=0..27 as exact decimal literals (2^-27 needs 27 dp).
from decimal import Decimal as _HllDec  # noqa: E402

_HLL_POW = [
    _HllDec(1) / (_HllDec(2) ** r)
    for r in range(_HLL_RANK_BITS + 2)
]
_HLL_POW_SQL = (
    "["
    + ", ".join(f"CAST({p} AS DECIMAL(30,28))" for p in _HLL_POW)
    + "]"
)


def _hll_rank_sql(w: str) -> str:
    """leading-zero rank of the 26-bit value ``w`` as a CASE ladder
    (floor(log2) without log -- portable and branch-identical in both
    engines)."""
    branches = " ".join(
        f"WHEN {w} >= {1 << b} THEN {_HLL_RANK_BITS - b}"
        for b in range(_HLL_RANK_BITS - 1, -1, -1)
    )
    return f"CASE {branches} ELSE {_HLL_RANK_BITS + 1} END"


def _hll_rank(w: F.Column) -> F.Column:
    expr = F.lit(_HLL_RANK_BITS + 1)
    for b in range(_HLL_RANK_BITS):
        expr = F.when(w >= (1 << b), _HLL_RANK_BITS - b).otherwise(
            expr
        )
    return expr


@query(
    "sketch_hll_distinct",
    oracle=f"""
    WITH h AS (
        SELECT CAST(concat('0x',
                   substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
                   AS BIGINT) AS u32
        FROM orders
    ),
    split AS (
        SELECT u32 % {_HLL_M} AS bucket,
               u32 // {_HLL_M} AS w
        FROM h
    ),
    regs AS (
        SELECT bucket, MAX({_hll_rank_sql("w")}) AS m_j
        FROM split GROUP BY bucket
    ),
    z AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
               SUM(({_HLL_POW_SQL})[m_j + 1]) AS z_used
        FROM regs
    ),
    est AS (
        SELECT {_HLL_M} - n_used AS v_zero,
               {_HLL_AMM!r}
                   / (CAST(z_used AS DOUBLE) + ({_HLL_M} - n_used))
                   AS raw
        FROM z
    ),
    truth AS (
        SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_true
        FROM orders
    )
    SELECT {_HLL_M} AS n_registers, v_zero,
           ROUND(CASE WHEN raw <= 2.5 * {_HLL_M} AND v_zero > 0
                      THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                                         / v_zero)
                      ELSE raw END, 2) AS hll_estimate,
           n_true
    FROM est CROSS JOIN truth
    """,
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    u32 = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8),
        16,
        10,
    ).cast("long")
    split = orders.select(
        (u32 % _HLL_M).alias("bucket"),
        F.floor(u32 / _HLL_M).cast("long").alias("w"),
    )
    regs = split.groupBy("bucket").agg(
        F.max(_hll_rank(F.col("w"))).alias("m_j")
    )
    pow_arr = F.array(
        *[F.lit(p).cast("decimal(30,28)") for p in _HLL_POW]
    )
    z = regs.agg(
        F.count("*").cast("long").alias("n_used"),
        F.sum(F.element_at(pow_arr, F.col("m_j") + 1)).alias(
            "z_used"
        ),
    )
    truth = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("n_true")
    )
    est = z.select(
        (F.lit(_HLL_M) - F.col("n_used")).alias("v_zero"),
        (
            F.lit(_HLL_AMM)
            / (
                F.col("z_used").cast("double")
                + (F.lit(_HLL_M) - F.col("n_used"))
            )
        ).alias("raw"),
    )
    out = est.crossJoin(F.broadcast(truth))
    small = (F.col("raw") <= 2.5 * _HLL_M) & (F.col("v_zero") > 0)
    return out.select(
        F.lit(_HLL_M).alias("n_registers"),
        "v_zero",
        F.round(
            F.when(
                small,
                _HLL_M
                * F.log(
                    F.lit(float(_HLL_M)) / F.col("v_zero")
                ),
            ).otherwise(F.col("raw")),
            2,
        ).alias("hll_estimate"),
        "n_true",
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership (build + probe, exact cross-engine)
# ---------------------------------------------------------------------------
# The runtime-filter mechanic made first-class: build an M-bit Bloom
# filter over the keys of one side (BUILDING-segment customers), probe
# the other side's key domain (customers who placed orders), and audit
# the filter's quality -- passes, true members, false positives, and
# the realized FP rate.  This is exactly the structure Spark's AQE
# injects as a runtime filter into large joins (see
# join_bloom_prefilter); registering it as a query makes the
# mechanism's CORRECTNESS driver-checkable: md5-derived bit positions
# are reproduced bit-for-bit by the oracle, so the pass/FP counts are
# exact, not statistical.
#
# Scale shape: the filter itself is <= M distinct set-bit rows
# (M = 4096 -- kilobytes), so the probe is a BROADCAST join against
# the bit table after a x K=4 explode of probe keys; no shuffle grows
# with the probed table beyond its own distinct().  No false
# negatives by construction (every build key sets all its K bits).
BLOOM_M = 4096
BLOOM_K = 4


def _bloom_pos(key: F.Column, i: int) -> F.Column:
    """Bit position i for a key: first 8 md5 hex chars of the salted
    key, mod M -- identical arithmetic in the DuckDB oracle."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"bloom{i}:"), key.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % BLOOM_M
    )


def _bloom_pos_sql(key: str, i: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat('bloom{i}:', "
        f"CAST({key} AS VARCHAR))), 1, 8)) AS BIGINT) % {BLOOM_M}"
    )


@query(
    "sketch_bloom_membership",
    oracle=f"""
    WITH build AS (
        SELECT c_custkey AS k FROM customer
        WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
        SELECT DISTINCT pos FROM build, (VALUES {", ".join(f"({i})" for i in range(BLOOM_K))}) h(i),
        LATERAL (SELECT CASE h.i {" ".join(f"WHEN {i} THEN {_bloom_pos_sql('build.k', i)}" for i in range(BLOOM_K))} END AS pos) p
    ),
    probe AS (SELECT DISTINCT o_custkey AS k FROM orders),
    probe_hits AS (
        SELECT pr.k, COUNT(*) AS n_hit
        FROM probe pr, (VALUES {", ".join(f"({i})" for i in range(BLOOM_K))}) h(i),
        LATERAL (SELECT CASE h.i {" ".join(f"WHEN {i} THEN {_bloom_pos_sql('pr.k', i)}" for i in range(BLOOM_K))} END AS pos) p
        JOIN bits USING (pos)
        GROUP BY pr.k
    ),
    pass AS (SELECT k FROM probe_hits WHERE n_hit = {BLOOM_K}),
    agg AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probed,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM pass) AS n_pass,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM pass
                WHERE k IN (SELECT k FROM build)) AS n_true
    )
    SELECT n_probed, n_bits_set, n_pass, n_true,
           n_pass - n_true AS n_false_pos,
           ROUND(CAST(n_pass - n_true AS DOUBLE)
                 / (n_probed - n_true), 6) AS fp_rate
    FROM agg
    """,
)
def sketch_bloom_membership(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = customer.filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select(F.col("c_custkey").alias("k"))
    bits = (
        build.select(
            F.explode(
                F.array(
                    *[_bloom_pos(F.col("k"), i) for i in range(BLOOM_K)]
                )
            ).alias("pos")
        )
        .distinct()  # <= M rows: the filter IS this tiny bit table
        .cache()  # probed by the join AND the n_bits_set scalar
    )
    probe = (
        orders.select(F.col("o_custkey").alias("k"))
        .distinct()
        .cache()  # read by probe_pos AND the n_probed scalar
    )
    probe_pos = probe.select(
        "k",
        F.explode(
            F.array(*[_bloom_pos(F.col("k"), i) for i in range(BLOOM_K)])
        ).alias("pos"),
    )
    hits = (
        probe_pos.join(F.broadcast(bits), "pos")
        .groupBy("k")
        .agg(F.count("*").alias("n_hit"))
    )
    passed = (
        hits.filter(F.col("n_hit") == BLOOM_K).select("k").cache()
    )  # read by the n_pass scalar AND the n_true semi-join
    n_true = passed.join(build, "k", "left_semi").agg(
        F.count("*").cast("long").alias("n_true")
    )
    stats = (
        probe.agg(F.count("*").cast("long").alias("n_probed"))
        .crossJoin(
            F.broadcast(
                bits.agg(F.count("*").cast("long").alias("n_bits_set"))
            )
        )
        .crossJoin(
            F.broadcast(
                passed.agg(F.count("*").cast("long").alias("n_pass"))
            )
        )
        .crossJoin(F.broadcast(n_true))
    )
    return stats.select(
        "n_probed",
        "n_bits_set",
        "n_pass",
        "n_true",
        (F.col("n_pass") - F.col("n_true")).alias("n_false_pos"),
        F.round(
            (F.col("n_pass") - F.col("n_true")).cast("double")
            / (F.col("n_probed") - F.col("n_true")),
            6,
        ).alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# Bitmap algebra: streaks and week overlap from the day bitmap
# ---------------------------------------------------------------------------
# What makes day bitmaps (events_activity_bitmap) more than a count:
# set algebra on the packed form.  mask & (mask << 1) marks every
# consecutive-day pair, and slicing 7-bit windows answers "active in
# week w" without re-touching raw events -- the roaring-bitmap
# workflow for retention at 100 TB, where the bitmap table is
# per-user-month rows and every derived metric is O(1) bit math in
# whole-stage codegen.  Both engines share the same shift/AND/
# bit_count semantics on BIGINT (day bits 0..30, far from the sign
# bit).
@query(
    "events_bitmap_week_overlap",
    oracle="""
    WITH b AS (
        SELECT user_id,
               bit_or(1::BIGINT << (CAST(day(CAST(ts AS TIMESTAMP))
                                         AS INT) - 1)) AS mask
        FROM events
        GROUP BY user_id
    )
    SELECT user_id,
           CAST(bit_count(mask) AS BIGINT) AS active_days,
           CAST(bit_count(mask & (mask << 1)) AS BIGINT)
               AS consec_day_pairs,
           CAST((CASE WHEN (mask & 127) <> 0 THEN 1 ELSE 0 END)
              + (CASE WHEN ((mask >> 7) & 127) <> 0 THEN 1 ELSE 0 END)
              + (CASE WHEN ((mask >> 14) & 127) <> 0 THEN 1 ELSE 0 END)
              + (CASE WHEN ((mask >> 21) & 127) <> 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS weeks_active,
           CAST(CASE WHEN (mask & 127) <> 0
                      AND ((mask >> 7) & 127) <> 0
                     THEN 1 ELSE 0 END AS BIGINT) AS w1_w2_retained
    FROM b
    """,
)
def events_bitmap_week_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # SQL shiftleft takes a column shift amount (the Python builtin
    # only accepts a literal int)
    mask_bit = F.expr(
        "shiftleft(cast(1 as bigint), "
        "day(cast(ts as timestamp)) - 1)"
    )
    b = events.groupBy("user_id").agg(
        F.bit_or(mask_bit).alias("mask")
    )
    m = F.col("mask")

    def week_any(w: int) -> F.Column:
        return F.when(
            F.shiftright(m, 7 * w).bitwiseAND(F.lit(127)) != 0, 1
        ).otherwise(0)

    return b.select(
        "user_id",
        F.bit_count(m).cast("long").alias("active_days"),
        F.bit_count(m.bitwiseAND(F.shiftleft(m, 1)))
        .cast("long")
        .alias("consec_day_pairs"),
        (week_any(0) + week_any(1) + week_any(2) + week_any(3))
        .cast("long")
        .alias("weeks_active"),
        F.when((week_any(0) == 1) & (week_any(1) == 1), 1)
        .otherwise(0)
        .cast("long")
        .alias("w1_w2_retained"),
    )


# ---------------------------------------------------------------------------
# HLL set algebra: union merge + inclusion-exclusion intersection
# ---------------------------------------------------------------------------
# What mergeability is FOR: the urgent-priority and low-priority
# customer populations are sketched SEPARATELY (as a per-partition /
# per-day pipeline would), the union cardinality comes from the
# cell-wise MAX merge of the two register sets -- never from
# re-reading raw data -- and the intersection follows by
# inclusion-exclusion |A ∩ B| = |A| + |B| - |A ∪ B|.  Every register
# and estimate is md5-exact cross-engine (the sketch_hll_distinct
# machinery); exact truth columns ride along so the driver record
# doubles as an error-bound eval.  Intersection via inc-exc inherits
# BOTH sketches' error -- the documented contract of HLL set algebra
# (theta sketches fix this; KMV above covers that family).
_HLL_SIDE_A = "('1-URGENT', '2-HIGH')"
_HLL_SIDE_B = "('4-NOT SPECIFIED', '5-LOW')"


def _hll_regs_sql(pred: str) -> str:
    return f"""
        SELECT u32 % {_HLL_M} AS bucket,
               MAX({_hll_rank_sql(f"(u32 // {_HLL_M})")}) AS m_j
        FROM (
            SELECT CAST(concat('0x',
                       substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
                       AS BIGINT) AS u32
            FROM orders WHERE o_orderpriority IN {pred}
        ) GROUP BY bucket
    """


def _hll_est_sql(regs: str, alias: str) -> str:
    return f"""
        SELECT ROUND(CASE WHEN raw <= 2.5 * {_HLL_M} AND v_zero > 0
                     THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                                        / v_zero)
                     ELSE raw END, 2) AS {alias}
        FROM (
            SELECT {_HLL_M} - n_used AS v_zero,
                   {_HLL_AMM!r}
                       / (CAST(z_used AS DOUBLE)
                          + ({_HLL_M} - n_used)) AS raw
            FROM (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
                       SUM(({_HLL_POW_SQL})[m_j + 1]) AS z_used
                FROM {regs}
            )
        )
    """


@query(
    "sketch_hll_set_algebra",
    oracle=f"""
    WITH ra AS ({_hll_regs_sql(_HLL_SIDE_A)}),
    rb AS ({_hll_regs_sql(_HLL_SIDE_B)}),
    ru AS (
        SELECT bucket, MAX(m_j) AS m_j
        FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
        GROUP BY bucket
    ),
    ea AS ({_hll_est_sql("ra", "est_a")}),
    eb AS ({_hll_est_sql("rb", "est_b")}),
    eu AS ({_hll_est_sql("ru", "est_union")}),
    truth AS (
        SELECT
            (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
             FROM orders
             WHERE o_orderpriority IN {_HLL_SIDE_A}) AS true_a,
            (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
             FROM orders
             WHERE o_orderpriority IN {_HLL_SIDE_B}) AS true_b,
            (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
             FROM orders
             WHERE o_orderpriority IN {_HLL_SIDE_A}
                OR o_orderpriority IN {_HLL_SIDE_B}) AS true_union
    )
    SELECT est_a, est_b, est_union,
           ROUND(est_a + est_b - est_union, 2) AS est_intersection,
           true_a, true_b, true_union,
           true_a + true_b - true_union AS true_intersection
    FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN truth
    """,
)
def sketch_hll_set_algebra(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sides = {
        "a": ("1-URGENT", "2-HIGH"),
        "b": ("4-NOT SPECIFIED", "5-LOW"),
    }
    u32 = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8),
        16,
        10,
    ).cast("long")

    def regs(pred):
        split = orders.filter(pred).select(
            (u32 % _HLL_M).alias("bucket"),
            F.floor(u32 / _HLL_M).cast("long").alias("w"),
        )
        return split.groupBy("bucket").agg(
            F.max(_hll_rank(F.col("w"))).alias("m_j")
        )

    def estimate(r, alias):
        pow_arr = F.array(
            *[F.lit(p).cast("decimal(30,28)") for p in _HLL_POW]
        )
        z = r.agg(
            F.count("*").cast("long").alias("n_used"),
            F.sum(
                F.element_at(pow_arr, F.col("m_j") + 1)
            ).alias("z_used"),
        )
        v_zero = _HLL_M - F.col("n_used")
        raw = F.lit(_HLL_AMM) / (
            F.col("z_used").cast("double") + v_zero
        )
        return z.select(
            F.round(
                F.when(
                    (raw <= 2.5 * _HLL_M) & (v_zero > 0),
                    _HLL_M
                    * F.log(
                        F.lit(float(_HLL_M)) / v_zero.cast("double")
                    ),
                ).otherwise(raw),
                2,
            ).alias(alias)
        )

    pa = F.col("o_orderpriority").isin(*sides["a"])
    pb = F.col("o_orderpriority").isin(*sides["b"])
    ra, rb = regs(pa), regs(pb)
    # the merge IS the point: cell-wise MAX of the two register sets
    ru = (
        ra.unionByName(rb)
        .groupBy("bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    truth = orders.agg(
        F.countDistinct(
            F.when(pa, F.col("o_custkey"))
        ).cast("long").alias("true_a"),
        F.countDistinct(
            F.when(pb, F.col("o_custkey"))
        ).cast("long").alias("true_b"),
        F.countDistinct(
            F.when(pa | pb, F.col("o_custkey"))
        ).cast("long").alias("true_union"),
    )
    out = (
        estimate(ra, "est_a")
        .crossJoin(F.broadcast(estimate(rb, "est_b")))
        .crossJoin(F.broadcast(estimate(ru, "est_union")))
        .crossJoin(F.broadcast(truth))
    )
    return out.select(
        "est_a",
        "est_b",
        "est_union",
        F.round(
            F.col("est_a") + F.col("est_b") - F.col("est_union"), 2
        ).alias("est_intersection"),
        "true_a",
        "true_b",
        "true_union",
        (
            F.col("true_a") + F.col("true_b") - F.col("true_union")
        ).alias("true_intersection"),
    )


# ---------------------------------------------------------------------------
# Approximate quantile sketch with self-audited rank error
# ---------------------------------------------------------------------------
# The quantile member of the sketch family (KMV, HLL, CMS, Bloom):
# Spark's Greenwald-Khanna approx_percentile at accuracy 1/eps,
# audited against EXACT order statistics at the GK guarantee's rank
# band.  GK merge order is engine- and partitioning-specific, so the
# sketch VALUE itself can never be a cross-engine oracle column --
# instead the output is the engine-independent part of the contract
# (VERDICT r6 item 2 / r7 item 4): the exact lo/hi band values at
# ranks ceil(q*n) -/+ (ceil(eps*n)+1), all integer arithmetic, plus
# ``approx_in_band`` asserting the sketch landed inside its own
# guarantee.  DuckDB recomputes the band from exact ranks and emits
# TRUE -- so a GK estimate outside its eps guarantee turns the row
# red at the driver, a value-level check replacing the old
# rows-only record.
APPROXQ_ACCURACY = 10000  # GK accuracy parameter: eps = 1/10000
APPROXQ_QS = (0.25, 0.5, 0.75, 0.95)
_APPROXQ_PCTS = (25, 50, 75, 95)  # the same grid in exact integers
# integer rank band: ceil(eps*n) + 1 (the +1 absorbs the half-open
# rank convention difference between "rank of" and "count <=")
_APPROXQ_BAND_SQL = f"(n + {APPROXQ_ACCURACY - 1}) DIV {APPROXQ_ACCURACY} + 1"
_APPROXQ_BAND_DUCK = f"(n + {APPROXQ_ACCURACY - 1}) // {APPROXQ_ACCURACY} + 1"


@query(
    "sketch_approx_quantiles",
    oracle=f"""
    WITH base AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), nn AS (
        SELECT COUNT(*) AS n FROM base
    ), spec AS (
        SELECT q_pct, n,
               GREATEST(1, (q_pct * n + 99) // 100
                           - ({_APPROXQ_BAND_DUCK})) AS lo_rank,
               LEAST(n, (q_pct * n + 99) // 100
                        + ({_APPROXQ_BAND_DUCK})) AS hi_rank
        FROM nn, (VALUES (25), (50), (75), (95)) AS qs(q_pct)
    ), ranked AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn
        FROM base
    )
    SELECT CAST(s.q_pct AS INTEGER) AS q_pct,
           s.n,
           s.lo_rank,
           s.hi_rank,
           lo.cents AS lo_cents,
           hi.cents AS hi_cents,
           TRUE AS approx_in_band
    FROM spec s
    JOIN ranked lo ON lo.rn = s.lo_rank
    JOIN ranked hi ON hi.rn = s.hi_rank
    """,
)
def sketch_approx_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents")
    )
    qs = list(APPROXQ_QS)
    agg = orders.agg(
        F.count("*").cast("long").alias("n"),
        F.expr(
            f"approx_percentile(cents, array({', '.join(map(str, qs))}),"
            f" {APPROXQ_ACCURACY})"
        ).alias("approx"),
    )
    # per-quantile spec: integer target rank ceil(q*n) and the GK
    # band, all integer arithmetic so both engines agree bit-for-bit
    # (float q*n could flip a ceil at an ULP -- the cross-engine
    # hazard class from round 6).
    spec = agg.select(
        "n",
        "approx",
        F.posexplode(
            F.array(*[F.lit(p) for p in _APPROXQ_PCTS])
        ).alias("pos", "q_pct"),
    ).select(
        F.col("q_pct").cast("int").alias("q_pct"),
        "n",
        F.element_at(F.col("approx"), F.col("pos") + 1)
        .cast("long")
        .alias("approx_cents"),
        F.expr(
            "CAST(GREATEST(1, (q_pct * n + 99) DIV 100"
            f" - ({_APPROXQ_BAND_SQL})) AS BIGINT)"
        ).alias("lo_rank"),
        F.expr(
            "CAST(LEAST(n, (q_pct * n + 99) DIV 100"
            f" + ({_APPROXQ_BAND_SQL})) AS BIGINT)"
        ).alias("hi_rank"),
    )
    # exact order statistics at the 8 band ranks: distributed
    # two-pass global rank (no single-partition sort; the price
    # domain buckets by 10k-dollar bands), then an 8-row broadcast
    # join picks out the band values.
    ranked = prefix_scan(
        orders,
        F.floor(F.col("cents") / 1_000_000),
        [F.col("cents").asc()],
        [(F.lit(1), "_rn")],
    )
    sides = spec.select(
        "q_pct",
        F.explode(
            F.array(
                F.struct(
                    F.lit("lo").alias("side"),
                    F.col("lo_rank").alias("rk"),
                ),
                F.struct(
                    F.lit("hi").alias("side"),
                    F.col("hi_rank").alias("rk"),
                ),
            )
        ).alias("s"),
    ).select("q_pct", F.col("s.side").alias("side"), F.col("s.rk").alias("rk"))
    matched = ranked.join(
        F.broadcast(sides), ranked["_rn"] == sides["rk"]
    )
    band_vals = matched.groupBy("q_pct").agg(
        F.max(F.when(F.col("side") == "lo", F.col("cents"))).alias(
            "lo_cents"
        ),
        F.max(F.when(F.col("side") == "hi", F.col("cents"))).alias(
            "hi_cents"
        ),
    )
    return spec.join(band_vals, "q_pct").select(
        "q_pct",
        "n",
        "lo_rank",
        "hi_rank",
        "lo_cents",
        "hi_cents",
        (
            (F.col("approx_cents") >= F.col("lo_cents"))
            & (F.col("approx_cents") <= F.col("hi_cents"))
        ).alias("approx_in_band"),
    )
