"""Mutation + append-ledger semantics (SURVEY ops S5-S8, M4).

The reference mutates state three ways: append-only inserts into the
``company_sends`` ledger and people/audit tables (send/route.ts:141-151,
clay-webhook/index.ts:93-96), update-by-key and delete-by-key on the
``clay_webhooks`` config table (webhooks/route.ts:58-63,82-85).

Spark disposition: appends are ``write.mode('append')``; keyed
update/delete on immutable Parquet are read->rewrite->overwrite plans
(Delta Lake MERGE/UPDATE/DELETE is the production path -- same logical
plan, transactional commit).  The *logical* mutation is a pure
DataFrame transform, registered below with SQL oracles; the physical
write path is exercised by the filesystem round-trip helpers + pytest
(send-twice idempotence, T4).

Design decision recorded per SURVEY.md par.3.2.5: the reference stamps
every ledger row ``status='sent'`` even when the POST failed
(send/route.ts:146 vs. the failed tally).  The engine records per-row
actual status instead.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import sql_string
from ..sources.loaders import load_table, read_parquet

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


def overwrite_update_by_key(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    key_value,
    updates: dict[str, object],
) -> None:
    """S7 physical path: read -> conditional withColumn -> overwrite.

    Non-transactional on raw Parquet (write to temp, swap) -- documented
    Delta ``UPDATE`` upgrade path for production.
    """
    df = read_parquet(spark, table_path)
    hit = F.col(key_col) == key_value
    for col_name, value in updates.items():
        df = df.withColumn(
            col_name, F.when(hit, F.lit(value)).otherwise(F.col(col_name))
        )
    tmp = table_path.rstrip("/") + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    final = read_parquet(spark, tmp)
    final.write.mode("overwrite").parquet(table_path)


def _swap_partitions(
    table_path: str, tmp: str, part_col: str, values: list
) -> None:
    """Move rewritten ``part_col=value`` directories from ``tmp`` into
    ``table_path``, replacing only those partitions."""
    import os
    import shutil

    # Any tmp leaf OUTSIDE the touched set means the transform moved a
    # row to a new partition value: swapping only `values` would discard
    # it, and overwriting the foreign leaf would clobber rows the pruned
    # scan never read.  Neither is correct on raw parquet -- fail loudly
    # (the Delta/Iceberg MERGE production path handles cross-partition
    # moves transactionally).
    expected = {f"{part_col}={v}" for v in values}
    stray = [
        d
        for d in os.listdir(tmp)
        if d.startswith(f"{part_col}=") and d not in expected
    ] if os.path.isdir(tmp) else []
    if stray:
        shutil.rmtree(tmp, ignore_errors=True)
        raise ValueError(
            "partition-pruned rewrite produced rows in untouched "
            f"partitions {sorted(stray)}; mutating the partition column "
            "is not supported on the raw-parquet path"
        )
    for v in values:
        leaf = f"{part_col}={v}"
        dst = os.path.join(table_path, leaf)
        src = os.path.join(tmp, leaf)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        # a fully-deleted partition writes no leaf dir: removal IS the
        # rewrite in that case
        if os.path.isdir(src):
            shutil.move(src, dst)
    shutil.rmtree(tmp, ignore_errors=True)


def _rewrite_touched_partitions(
    spark: SparkSession,
    table_path: str,
    part_col: str,
    transform: Callable[[DataFrame], DataFrame],
    touched_pred: F.Column,
) -> list:
    """Shared partition-pruned mutation core: locate the partitions
    holding rows matching ``touched_pred`` (a COLUMN-pruned scan -- it
    reads only the key/partition columns, but from every partition,
    since the touched set is unknown up front), then rewrite ONLY the
    touched partitions through ``transform`` (this second scan IS
    partition-pruned via the ``isin`` membership filter) and swap the
    rewritten directories into place.  Untouched partition data files
    are never rewritten or moved -- at 100 TB a single-key mutation
    rewrites one partition, not the snapshot.  Raw-parquet stand-in for
    Delta/Iceberg MERGE with dynamic partition overwrite (the
    production path); each swap is atomic only per directory rename,
    with a delete->move window during which a concurrent reader can see
    the partition missing -- acceptable for the single-writer sandbox,
    solved by snapshot isolation on the production path.

    ``transform`` must not change ``part_col`` values: rows that move
    between partitions cannot be swapped correctly on raw parquet, and
    ``_swap_partitions`` rejects the rewrite if any appear.

    Returns the list of partition values rewritten.
    """
    df = read_parquet(spark, table_path)
    touched = [
        r[0]
        for r in df.filter(touched_pred)
        .select(part_col)
        .distinct()
        .collect()
    ]
    if not touched:
        return []
    # membership filter on the partition column -> Catalyst prunes the
    # scan to the touched directories only
    sub = df.filter(F.col(part_col).isin(touched))
    tmp = table_path.rstrip("/") + ".tmp"
    transform(sub).write.mode("overwrite").partitionBy(
        part_col
    ).parquet(tmp)
    _swap_partitions(table_path, tmp, part_col, touched)
    return touched


def partitioned_update_by_key(
    spark: SparkSession,
    table_path: str,
    part_col: str,
    key_col: str,
    key_value,
    updates: dict[str, object],
) -> list:
    """S7 physical path, partition-pruned (webhooks/route.ts:58-63):
    update-by-key on a ``part_col``-partitioned parquet table that
    rewrites only the partitions containing the key.

    ``updates`` may not touch ``part_col``: the rewritten row would land
    in a different partition directory than the swap moves back, so the
    mutation would silently drop it.  Partition-moving updates belong to
    the Delta/Iceberg MERGE production path.
    """
    if part_col in updates:
        raise ValueError(
            f"updating partition column {part_col!r} is not supported "
            "by the partition-pruned rewrite; use a full-table "
            "overwrite (overwrite_update_by_key) or the MERGE path"
        )
    hit = F.col(key_col) == key_value

    def apply_updates(sub: DataFrame) -> DataFrame:
        for col_name, value in updates.items():
            sub = sub.withColumn(
                col_name,
                F.when(hit, F.lit(value)).otherwise(F.col(col_name)),
            )
        return sub

    return _rewrite_touched_partitions(
        spark, table_path, part_col, apply_updates, hit
    )


def partitioned_delete_by_key(
    spark: SparkSession,
    table_path: str,
    part_col: str,
    key_col: str,
    key_value,
) -> list:
    """S8 physical path, partition-pruned (webhooks/route.ts:82-85):
    delete-by-key that rewrites only the partitions holding the key."""
    hit = F.col(key_col) == key_value
    return _rewrite_touched_partitions(
        spark, table_path, part_col, lambda sub: sub.filter(~hit), hit
    )


# -- MERGE / upsert (engine surface): the production path for S7+S5 in
#    one atomic operation (Delta/Iceberg MERGE INTO).  Logical
#    semantics here as a full-outer join + coalesce, oracle-checked;
#    the physical swap follows overwrite_update_by_key's temp-and-swap
#    pattern.
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
