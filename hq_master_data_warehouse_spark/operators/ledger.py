"""Mutation + append-ledger semantics (SURVEY ops S5-S8, M4).

The reference mutates state three ways: append-only inserts into the
``company_sends`` ledger and people/audit tables (send/route.ts:141-151,
clay-webhook/index.ts:93-96), update-by-key and delete-by-key on the
``clay_webhooks`` config table (webhooks/route.ts:58-63,82-85).

Spark disposition: appends are ``write.mode('append')``.  The
*logical* keyed update/delete is a pure DataFrame transform,
registered below with SQL oracles.  The physical keyed mutation is
``sources/txn_log.py``'s ``update_by_key`` / ``delete_by_key``: the
zone maps and one job find the files holding the key, and one atomic
log commit swaps their rewrite in, so readers never see a table
without them.

Design decision recorded per SURVEY.md par.3.2.5: the reference stamps
every ledger row ``status='sent'`` even when the POST failed
(send/route.ts:146 vs. the failed tally).  The engine records per-row
actual status instead.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import sql_string
from ..sources.loaders import load_table

# ---------------------------------------------------------------------------
# Logical mutation plans (oracle-checked)
# ---------------------------------------------------------------------------


# -- S7: update-by-key with updated_at touch (webhooks/route.ts:58-63).
#    nation-as-config: rename nation 7, fixed touch marker (the prod
#    path uses current_timestamp -- nondeterministic, so the oracle
#    pins a literal).
@query(
    "ledger_update_by_key",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey = 7 THEN 'RENAMED_NATION'
                ELSE n_name END AS n_name,
           n_regionkey,
           CASE WHEN n_nationkey = 7 THEN 'touched' ELSE NULL
               END AS updated_marker
    FROM nation
    """,
)
def ledger_update_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    hit = F.col("n_nationkey") == 7
    return nation.select(
        "n_nationkey",
        F.when(hit, F.lit("RENAMED_NATION"))
        .otherwise(F.col("n_name"))
        .alias("n_name"),
        "n_regionkey",
        F.when(hit, F.lit("touched"))
        .otherwise(F.lit(None).cast("string"))
        .alias("updated_marker"),
    )


# -- S8: delete-by-key (webhooks/route.ts:82-85) as a keyed filter.
@query(
    "ledger_delete_by_key",
    oracle="SELECT * FROM nation WHERE n_nationkey <> 7",
)
def ledger_delete_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "nation").filter(
        F.col("n_nationkey") != 7
    )


# -- S5/S6: insert-returning + bulk append as a logical plan: existing
#    rows unioned with the new batch (the write path appends only the
#    new rows; see append_ledger below).
@query(
    "ledger_append_rows",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    UNION ALL
    SELECT 100 AS n_nationkey, 'NEW_WEBHOOK_A' AS n_name, 0 AS n_regionkey
    UNION ALL
    SELECT 101 AS n_nationkey, 'NEW_WEBHOOK_B' AS n_name, 1 AS n_regionkey
    """,
)
def ledger_append_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    new = spark.createDataFrame(
        [(100, "NEW_WEBHOOK_A", 0), (101, "NEW_WEBHOOK_B", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    return nation.unionByName(new)


# ---------------------------------------------------------------------------
# Physical write path (pytest-exercised; rows-only from the driver's
# point of view -- these mutate a caller-supplied directory)
# ---------------------------------------------------------------------------


def append_ledger(records: DataFrame, ledger_path: str) -> None:
    """S6: append send records to the ledger (send/route.ts:141-151).
    Parquet append here; Delta append in production for atomicity."""
    records.write.mode("append").parquet(ledger_path)


def new_send_records(
    assigned: DataFrame, batch_id: str | None = None
) -> DataFrame:
    """Build ledger rows from distributed companies: uuid ids (C1),
    current timestamp (C2), per-row ACTUAL status -- not the
    reference's blanket 'sent' (route.ts:146)."""
    batch_id = batch_id or str(uuid.uuid4())
    return assigned.selectExpr(
        "uuid() AS id",
        "CAST(c_custkey AS STRING) AS company_id",
        "CAST(webhook_id AS STRING) AS webhook_id",
        "segment AS employee_range",
        f"{sql_string(batch_id)} AS batch_id",
        "current_timestamp() AS sent_at",
        "CASE WHEN assigned THEN 'sent' ELSE 'skipped' END AS status",
    )


def unsent_companies(companies: DataFrame, ledger: DataFrame) -> DataFrame:
    """J1/T4: exclude-already-sent against a live ledger DataFrame."""
    sent_keys = ledger.select(
        F.col("company_id").cast("long").alias("c_custkey")
    )
    return companies.join(sent_keys, on="c_custkey", how="left_anti")


# -- MERGE / upsert (engine surface): the production path for S7+S5 in
#    one atomic operation (Delta/Iceberg MERGE INTO).  Logical
#    semantics here as a full-outer join + coalesce, oracle-checked.
def merge_upsert(
    base: DataFrame, updates: DataFrame, key: str
) -> DataFrame:
    """WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT, rows
    absent from ``updates`` kept -- as a declarative plan: full outer
    join on the key, update columns coalesced updates-first."""
    u = updates.select(
        F.col(key).alias("_u_key"),
        *[
            F.col(c).alias(f"_u_{c}")
            for c in updates.columns
            if c != key
        ],
    )
    joined = base.join(u, base[key] == u["_u_key"], "full_outer")
    action = (
        F.when(F.col("_u_key").isNull(), "keep")
        .when(base[key].isNull(), "insert")
        .otherwise("update")
    )
    out_cols = [F.coalesce(base[key], F.col("_u_key")).alias(key)]
    for c in base.columns:
        if c == key:
            continue
        if f"_u_{c}" in joined.columns:
            out_cols.append(F.coalesce(F.col(f"_u_{c}"), base[c]).alias(c))
        else:
            out_cols.append(base[c])
    return joined.select(*out_cols, action.alias("merge_action"))


@query(
    "ledger_merge_upsert",
    oracle="""
    WITH upd AS (
        SELECT s_suppkey, ROUND(s_acctbal + 100.0, 2) AS s_acctbal
        FROM supplier WHERE s_suppkey % 10 = 0
        UNION ALL
        SELECT s_suppkey + 100000, 0.0 FROM supplier
        WHERE s_suppkey % 10 = 1
    )
    SELECT COALESCE(b.s_suppkey, u.s_suppkey) AS s_suppkey,
           COALESCE(b.s_name, 'new-supplier') AS s_name,
           ROUND(COALESCE(u.s_acctbal, b.s_acctbal), 2) AS s_acctbal,
           CASE WHEN u.s_suppkey IS NULL THEN 'keep'
                WHEN b.s_suppkey IS NULL THEN 'insert'
                ELSE 'update' END AS merge_action
    FROM supplier b FULL OUTER JOIN upd u ON b.s_suppkey = u.s_suppkey
    """,
)
def ledger_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic upsert fixture: every 10th supplier gets +100
    balance (matched -> update), a shifted key range is inserted, the
    rest keep."""
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.round(F.col("s_acctbal"), 2).alias("s_acctbal"),
    )
    updates = (
        supplier.filter(F.col("s_suppkey") % 10 == 0)
        .select(
            "s_suppkey",
            F.round(F.col("s_acctbal") + 100.0, 2).alias("s_acctbal"),
        )
        .unionByName(
            supplier.filter(F.col("s_suppkey") % 10 == 1).select(
                (F.col("s_suppkey") + 100000).alias("s_suppkey"),
                F.lit(0.0).alias("s_acctbal"),
            )
        )
    )
    merged = merge_upsert(supplier, updates, "s_suppkey")
    return merged.select(
        "s_suppkey",
        F.coalesce(F.col("s_name"), F.lit("new-supplier")).alias("s_name"),
        F.round("s_acctbal", 2).alias("s_acctbal"),
        "merge_action",
    )
