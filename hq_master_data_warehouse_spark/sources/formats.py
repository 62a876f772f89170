"""Source/sink format breadth beyond parquet (engine surface; the
reference's only wire formats are Postgres rows and JSON payloads --
SURVEY §2.1 S9/S10).  A warehouse engine additionally speaks CSV and
JSONL, and lays out hot tables partitioned by their dominant filter
key so scans prune whole directories.

Each query here round-trips fixture data through the format under
test into a table staged once per input snapshot
(``matcache.staged``), reads it back with an explicit
schema (schema-on-read, never inference in production paths), and
aggregates -- the DuckDB oracle runs on the original parquet, so the
round-trip itself is what's being checked.

Scale: CSV/JSONL are ingest formats only -- they are line-splittable
(parallel read) but row-oriented, uncompressed-stats, and schema-free;
the first job in any pipeline lands them into parquet.  Partitioned
parquet writes use a low-cardinality derived key (order year): one
directory per value, so a year-filtered scan lists 1/Nth of the
files before reading a byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import dec_sum, dec_sum_sql
from ..matcache import staged, table_sig
from ..registry import query
from .loaders import load_table, read_parquet


ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
)


@query(
    "source_csv_roundtrip",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           {dec_sum_sql('o_totalprice', 'total_price')}
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV (header, ISO timestamps) → schema-on-read → agg.
    The oracle runs on the original parquet, so any loss in the CSV
    round-trip (quoting, timestamp format, nulls) fails the hash."""
    path = staged(
        "csv_orders",
        [table_sig(sf_dir, "orders")],
        lambda tmp: load_table(spark, sf_dir, "orders")
        .write.option("header", True)
        .csv(tmp),
    )
    orders = (
        spark.read.schema(ORDERS_DDL)
        .option("header", True)
        .csv(path)
    )
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
    )


@query(
    "source_jsonl_roundtrip",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {dec_sum_sql('o_totalprice', 'total_price')}
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON-lines → schema-on-read → agg (the batch twin of
    the webhook ingest path, S10)."""
    path = staged(
        "jsonl_orders",
        [table_sig(sf_dir, "orders")],
        lambda tmp: load_table(spark, sf_dir, "orders").write.json(tmp),
    )
    orders = spark.read.schema(ORDERS_DDL).json(path)
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
    )


@query(
    "source_partitioned_scan",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n_orders,
           {dec_sum_sql('o_totalprice', 'total_price')}
    FROM orders
    WHERE year(o_orderdate) IN (1997, 1998)
    GROUP BY year(o_orderdate)
    """,
)
def source_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders written partitioned by order year, then scanned with a
    partition-key filter -- the layout that replaces btree indexes at
    100 TB (SURVEY §4.1).  The year filter prunes directories at file
    listing time (PartitionFilters in the plan, asserted in
    tests/test_plans.py)."""
    path = partitioned_orders_path(spark, sf_dir)
    orders = read_parquet(spark, path)
    return (
        orders.filter(F.col("order_year").isin(1997, 1998))
        .groupBy("order_year")
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum("o_totalprice", "total_price"),
        )
        .select(
            F.col("order_year").cast("int").alias("order_year"),
            "n_orders",
            "total_price",
        )
    )


def partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """orders re-laid-out as year-partitioned parquet (staged once per
    input snapshot per machine)."""
    return staged(
        "part_orders",
        [table_sig(sf_dir, "orders")],
        lambda tmp: load_table(spark, sf_dir, "orders")
        .withColumn("order_year", F.year("o_orderdate"))
        .write.partitionBy("order_year")
        .parquet(tmp),
    )


@query(
    "source_orc_roundtrip",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n_orders,
           {dec_sum_sql('o_totalprice', 'total_price')}
    FROM orders
    GROUP BY CAST(year(o_orderdate) AS INT)
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC → read back → agg.  ORC is the second columnar
    format a warehouse must speak (stripe stats + predicate pushdown,
    same scan properties as parquet); the oracle runs on the original
    parquet so any type drift in the round-trip fails the hash."""
    path = staged(
        "orc_orders",
        [table_sig(sf_dir, "orders")],
        lambda tmp: load_table(spark, sf_dir, "orders").write.orc(tmp),
    )
    orders = spark.read.orc(path)
    return orders.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(
        F.count("*").alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
    )


@query(
    "source_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
    FROM nation
    UNION ALL
    SELECT n_nationkey, CAST(NULL AS VARCHAR) AS n_name, n_regionkey
    FROM nation
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches with different
    column sets land in one table directory; ``mergeSchema`` widens to
    the union schema, NULL-padding each batch's missing columns -- the
    additive-column migration every long-lived 100 TB table undergoes.
    Merging only reconciles footers (per-file metadata), not data, so
    cost is O(files); production keeps it off and pins the merged
    schema in the catalog after the first evolution."""

    def build_into(tmp: str) -> None:
        nation = load_table(spark, sf_dir, "nation")
        nation.select("n_nationkey", "n_name").write.parquet(tmp)
        nation.select("n_nationkey", "n_regionkey").write.mode(
            "append"
        ).parquet(tmp)

    path = staged("evolve_nation", [table_sig(sf_dir, "nation")], build_into)
    return (
        spark.read.option("mergeSchema", True)
        .parquet(path)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


#: fixed-width layout for the customer table: (name, start, width)
#: -- 1-based start offsets, printf-padded on write.
FIXED_LAYOUT = [
    ("c_custkey", 1, 12),
    ("c_name", 13, 25),
    ("c_nationkey", 38, 6),
    ("c_acctbal", 44, 12),
    ("c_mktsegment", 56, 10),
]


@query(
    "source_fixedwidth_roundtrip",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n_customers,
           {dec_sum_sql('c_acctbal', 'total_bal')}
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def source_fixedwidth_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """customer → fixed-width text (printf-padded columns, the
    mainframe/EDI interchange layout) → positional substring parse →
    agg.  Schema lives entirely in FIXED_LAYOUT: the read side slices
    1-based (start, width) spans, trims pad spaces, and casts -- no
    delimiter, no quoting, line-splittable so the read parallelizes
    like CSV.  The oracle runs on the original parquet, so any
    truncation or pad/trim loss in the round-trip fails the hash.
    """

    def build_into(tmp: str) -> None:
        line = F.format_string(
            "%-12s%-25s%-6s%12.2f%-10s",
            F.col("c_custkey").cast("string"),
            F.col("c_name"),
            F.col("c_nationkey").cast("string"),
            F.col("c_acctbal"),
            F.col("c_mktsegment"),
        )
        load_table(spark, sf_dir, "customer").select(
            line.alias("value")
        ).write.text(tmp)

    path = staged(
        "fixedwidth_customer", [table_sig(sf_dir, "customer")], build_into
    )
    raw = spark.read.text(path)
    parsed = raw.select(
        F.trim(F.substring("value", 1, 12)).cast("long").alias(
            "c_custkey"
        ),
        F.trim(F.substring("value", 13, 25)).alias("c_name"),
        F.trim(F.substring("value", 38, 6)).cast("int").alias(
            "c_nationkey"
        ),
        F.trim(F.substring("value", 44, 12)).cast("double").alias(
            "c_acctbal"
        ),
        F.trim(F.substring("value", 56, 10)).alias("c_mktsegment"),
    )
    return parsed.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        dec_sum("c_acctbal", "total_bal"),
    )
