"""Physical-layout operators: bucketed co-located joins (SCALE.md's
"bucket both tables on the join key to make this a shuffle-free
zipper", executable).

Bucketing pre-shuffles a table ONCE at write time: rows are hashed
into N buckets by the join key and each bucket is sorted, so a later
join of two tables bucketed the same way needs no exchange at all --
the map tasks zip matching buckets.  At 100 TB this converts the
biggest recurring cost of a standing pipeline (the fact-fact shuffle,
re-paid every run) into a one-time layout cost.

The staged bucketed twin tables live in a temp dir keyed by sf_dir;
`tests/test_plans.py` asserts the join plan contains no shuffle.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import dec_sum, dec_sum_sql
from ..matcache import staged, table_sig
from ..registry import query
from ..sources.loaders import load_table, read_parquet

# Bucket count is a layout-time knob: enough buckets to spread the
# zipper join across the cluster, each bucket big enough to amortize
# file-open cost.  16 measured fastest at sf0.1 on local[32] (0.45 s
# vs 0.64 s at 8 and 0.56 s at 32); at 100 TB this would be hundreds,
# sized so a bucket ~ one task's worth of rows.
N_BUCKETS = 16


def _bucketed_table(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> str:
    """Stage `name` as a bucketed+sorted external table (once per
    sf_dir per session-catalog) and return the table identifier."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"hqmdw_bkt_{name}_{tag}"
    if not spark.catalog.tableExists(table):
        path = os.path.join(tempfile.gettempdir(), f"hqmdw_bkt_{tag}", name)
        (
            load_table(spark, sf_dir, name)
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .saveAsTable(table)
        )
    return table


@query(
    "bucketed_colocated_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           {dec_sum_sql('l.l_extendedprice', 'revenue')}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders with both sides bucketed on the orderkey:
    the sort-merge join reads pre-bucketed pre-sorted files and plans
    ZERO exchanges (asserted in tests/test_plans.py).  Same result as
    the shuffled join -- the oracle is the plain SQL."""
    li = spark.table(
        _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    )
    orders = spark.table(
        _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    )
    # hint('merge'): at test SF the planner would broadcast the small
    # side and never touch the bucket layout; production fact-fact
    # sizes get sort-merge anyway.
    return (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            dec_sum("l_extendedprice", "revenue"),
        )
    )


# -- small-file compaction (engine surface): the standing maintenance
#    job of every file-based warehouse.  Streaming sinks and
#    per-partition appends leave thousands of KB-sized files; scan
#    cost then becomes file-open/list overhead, not bytes.  Compaction
#    = read fragmented input, recompute the partition count from
#    actual bytes / target file size, rewrite.  At 100 TB this runs
#    per table-partition (never whole-table), and the byte math is
#    driver-side metadata only -- no data moves except the rewrite
#    itself.
TARGET_FILE_BYTES = 128 * 1024 * 1024
FRAGMENT_PARTS = 64


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Rewrite parquet dir `src` into `dst` with ceil(bytes/target)
    files; returns the chosen file count."""
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    n = max(1, -(-total // target_bytes))
    read_parquet(spark, src).coalesce(n).write.mode("overwrite").parquet(
        dst
    )
    return n


def _fragmented_orders(spark: SparkSession, sf_dir: str) -> str:
    return staged(
        "frag_orders",
        [table_sig(sf_dir, "orders")],
        lambda tmp: load_table(spark, sf_dir, "orders")
        .repartition(FRAGMENT_PARTS)
        .write.parquet(tmp),
    )


@query(
    "layout_compact_small_files",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {dec_sum_sql('o_totalprice', 'total_price')}
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def layout_compact_small_files(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """64-way fragmented orders -> compacted parquet -> agg; the
    oracle runs on the original table, so the round-trip through
    fragmentation + compaction must be lossless."""
    frag = _fragmented_orders(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    dst = os.path.join(tempfile.gettempdir(), f"hqmdw_compact_{tag}")
    compact_parquet(spark, frag, dst)
    return read_parquet(spark, dst).groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
    )


ZORDER_BITS = 10


def _interleave_sql(a: str, b: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


# -- Z-order (Morton) index: interleave the bits of two clustering
#    dimensions so one lexicographic sort gives locality in BOTH --
#    the layout trick behind Delta/Iceberg OPTIMIZE ZORDER data
#    skipping.  Sorting the table by zval before writing means a
#    range predicate on either dimension touches a contiguous band of
#    files, so min/max footer stats prune most of a 100 TB scan.  The
#    bit math is 2*BITS static shift-and-mask terms -- pure integer
#    whole-stage-codegen expressions, no shuffle (the eventual
#    repartitionByRange(zval) write is the one sort).  zfile is the
#    target-file id a 2^6-file layout would assign.
@query(
    "layout_zorder_index",
    oracle=f"""
    WITH d AS (
        SELECT p_partkey,
               CAST(p_size AS BIGINT) & {(1 << ZORDER_BITS) - 1} AS a,
               p_partkey % {1 << ZORDER_BITS} AS b
        FROM part
    )
    SELECT p_partkey, a, b,
           CAST({_interleave_sql('a', 'b', ZORDER_BITS)} AS BIGINT)
               AS zval,
           CAST(({_interleave_sql('a', 'b', ZORDER_BITS)})
                >> {2 * ZORDER_BITS - 6} AS BIGINT) AS zfile
    FROM d
    """,
)
def layout_zorder_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    mask = (1 << ZORDER_BITS) - 1
    d = part.select(
        "p_partkey",
        F.col("p_size").cast("long").bitwiseAND(F.lit(mask)).alias("a"),
        (F.col("p_partkey") % (1 << ZORDER_BITS)).alias("b"),
    )

    def interleave(a, b):
        z = F.lit(0).cast("long")
        for i in range(ZORDER_BITS):
            z = z + F.shiftleft(
                F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i
            )
            z = z + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        return z

    zval = interleave(F.col("a"), F.col("b"))
    return d.select(
        "p_partkey",
        "a",
        "b",
        zval.cast("long").alias("zval"),
        F.shiftright(zval, 2 * ZORDER_BITS - 6)
        .cast("long")
        .alias("zfile"),
    )


# -- dynamic partition overwrite: the standing-pipeline refresh
#    pattern -- rewrite ONLY the partitions present in the incoming
#    batch, leave every other partition untouched (partitionOverwrite-
#    Mode=dynamic; the reference's full-table rewrites cannot do
#    partial refresh).  The op stages customers partitioned by
#    segment, overwrites the BUILDING partition with its 10
#    lowest-key rows, and returns per-partition counts; the oracle
#    states the expected post-refresh counts, so the untouched-
#    partitions guarantee itself is differentially checked.
@query(
    "layout_dynamic_partition_overwrite",
    oracle="""
    SELECT c_mktsegment,
           CASE WHEN c_mktsegment = 'BUILDING'
                THEN 10 ELSE COUNT(*) END AS n_rows
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def layout_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import hashlib
    import os
    import tempfile

    customer = load_table(spark, sf_dir, "customer")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(), f"hqmdw_dynpart_{tag}"
    )
    # full load, then a partial refresh touching ONE partition.
    # partitionOverwriteMode is passed PER-WRITE (DataFrameWriter
    # option), not set on the shared session conf: a session-level
    # set would silently turn every later partitioned overwrite in
    # the same session into a partial overwrite.
    customer.write.mode("overwrite").partitionBy(
        "c_mktsegment"
    ).parquet(path)
    refresh = (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .orderBy("c_custkey")
        .limit(10)
    )
    refresh.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("c_mktsegment").parquet(path)
    return (
        read_parquet(spark, path)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering layout
# ---------------------------------------------------------------------------
# The audit half of the Z-order story (layout_zorder_index computes
# the per-row key; this measures the LAYOUT it produces): interleave
# two query dimensions (customer bucket x order-day bucket) into one
# Morton sort key, assign rows to files by Z-range, and report each
# file's min/max envelope on BOTH dimensions.  A Z-ordered layout
# keeps each file's envelope small on every interleaved dimension at
# once, so min/max zone-map pruning (source_txn_log_pruned_scan)
# works for predicates on EITHER column -- the property a single-
# column sort cannot give.  The per-file envelope area reported here
# IS the pruning-quality metric an OPTIMIZE ZORDER BY job would
# monitor.
#
# Exactness: pure integer bit arithmetic (8 bits per dimension,
# 16-bit Morton code, 16 files) -- identical in both engines.
# Scale shape: one projection pass computes the key; the per-file
# envelope is ONE map-side-combinable groupBy over 16 groups.  At
# 100 TB the same key feeds repartitionByRange(zfile) + sortWithin-
# Partitions(z) to physically write the layout; computing the
# envelope never shuffles more than 16 aggregate rows.
_Z_BITS = 8


def _morton(x: F.Column, y: F.Column) -> F.Column:
    """Interleave the low 8 bits of x (even positions) and y (odd)."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(
            F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i
        ) + F.shiftleft(
            F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return z


@query(
    "layout_zorder_clustering",
    oracle=f"""
    WITH keyed AS (
        SELECT (o_custkey & 255) AS xb,
               (datediff('day', DATE '1992-01-01',
                         CAST(o_orderdate AS DATE)) & 255) AS yb
        FROM orders
    ),
    z AS (
        SELECT xb, yb, ({_interleave_sql("xb", "yb", _Z_BITS)}) AS zkey
        FROM keyed
    )
    SELECT CAST(zkey // 4096 AS BIGINT) AS zfile,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(xb) AS BIGINT) AS min_x,
           CAST(MAX(xb) AS BIGINT) AS max_x,
           CAST(MIN(yb) AS BIGINT) AS min_y,
           CAST(MAX(yb) AS BIGINT) AS max_y,
           CAST((MAX(xb) - MIN(xb) + 1)
                * (MAX(yb) - MIN(yb) + 1) AS BIGINT) AS envelope_area
    FROM z
    GROUP BY zfile
    """,
)
def layout_zorder_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        F.col("o_custkey").bitwiseAND(F.lit(255)).alias("xb"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
        )
        .cast("long")
        .bitwiseAND(F.lit(255))
        .alias("yb"),
    )
    z = keyed.select(
        "xb", "yb", _morton(F.col("xb"), F.col("yb")).alias("zkey")
    )
    span_x = F.max("xb") - F.min("xb") + 1
    span_y = F.max("yb") - F.min("yb") + 1
    return (
        z.groupBy(
            F.floor(F.col("zkey") / 4096).cast("long").alias("zfile")
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("xb").cast("long").alias("min_x"),
            F.max("xb").cast("long").alias("max_x"),
            F.min("yb").cast("long").alias("min_y"),
            F.max("yb").cast("long").alias("max_y"),
            (span_x * span_y).cast("long").alias("envelope_area"),
        )
    )
