"""Delta-protocol export of the home-grown transaction log
(VERDICT r5 item 8 tier-3).

``sources/txn_log.py`` implements snapshotting, time travel, zone-map
pruning, compaction, vacuum and optimistic multi-writer commits on a
simple JSON action log.  This module exports any snapshot of such a
table as a **Delta Lake commit** per the PUBLIC Delta transaction
protocol (delta.io PROTOCOL.md): a ``_delta_log/`` directory whose
``00000000000000000000.json`` holds newline-delimited ``protocol``,
``metaData`` and ``add`` actions.  After export, the table directory
IS a Delta table readable by any Delta reader (delta-rs, Spark+Delta,
DuckDB's delta extension) with no copy of the data: ``add`` paths
point at the existing parquet part-files.

Reader-version 1 / writer-version 2 suffices: the export uses no
column mapping, no deletion vectors, no generated columns.

The sandbox ships no Delta reader, so verification is two-fold and
driver-checkable: a structural conformance pytest
(tests/test_delta_export.py) and the oracle-backed
``layout_delta_export_roundtrip`` query, which reads the table back
*through the exported log only* and must hash-match the same
final-state SQL as every other txn-log query.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from .loaders import read_parquet
from .txn_log import (
    action_path,
    build_txn_table,
    committed_versions,
    compact_table,
    live_files,
)

DELTA_LOG_DIR = "_delta_log"


def _part_files(table_dir: str, rel_dir: str) -> list[str]:
    """The parquet part-files of one logical data 'file' (the txn log
    tracks whole single-job parquet directories; Delta ``add`` actions
    must reference real files, one per part)."""
    full = os.path.join(table_dir, rel_dir)
    return sorted(
        f"{rel_dir}/{name}"
        for name in os.listdir(full)
        if name.endswith(".parquet")
    )


def export_delta_log(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> str:
    """Write the snapshot of ``table_dir`` as of ``version`` (None =
    head) as Delta commit 0.  Idempotent per content: re-export simply
    rewrites the same single-commit log.  Returns the commit path.

    At 100 TB this is a metadata-only operation -- O(live files) JSON
    lines, no data movement -- which is exactly how production
    format-interop tools (e.g. Delta UniForm / iceberg conversion)
    operate: one log describing existing parquet."""
    live = live_files(table_dir, version)
    if not live:
        raise ValueError(
            f"nothing to export: no live files in {table_dir!r} at "
            f"version {version!r}"
        )
    adds = []
    schema_src = None
    for info in live:
        for rel in _part_files(table_dir, info["path"]):
            full = os.path.join(table_dir, rel)
            st = os.stat(full)
            adds.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {},
                        "size": st.st_size,
                        "modificationTime": int(st.st_mtime * 1000),
                        "dataChange": True,
                    }
                }
            )
            schema_src = schema_src or os.path.join(
                table_dir, info["path"]
            )
    schema_json = read_parquet(spark, schema_src).schema.json()
    versions = committed_versions(table_dir)
    head = versions[-1]
    # the table was created by its FIRST commit, which need not be
    # version 0 (a streaming sink's versions are its batch ids)
    first = action_path(table_dir, versions[0])
    created_ms = int(os.stat(first).st_mtime * 1000)
    actions = [
        {
            "commitInfo": {
                "operation": "CONVERT",
                "operationParameters": {
                    "sourceFormat": "hqmdw-txn-log",
                    "sourceVersion": str(
                        head if version is None else version
                    ),
                },
            }
        },
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                # deterministic id: same table dir -> same Delta id,
                # so re-exports are recognizably the same table
                "id": str(
                    uuid.uuid5(uuid.NAMESPACE_URL, table_dir)
                ),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_json,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": created_ms,
            }
        },
        *adds,
    ]
    log_dir = os.path.join(table_dir, DELTA_LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    commit = os.path.join(log_dir, f"{0:020d}.json")
    tmp = commit + ".tmp"
    with open(tmp, "w") as f:
        for action in actions:
            f.write(json.dumps(action) + "\n")
    os.replace(tmp, commit)
    return commit


def read_delta_export(
    spark: SparkSession, table_dir: str
) -> DataFrame:
    """Read the table back THROUGH the exported Delta log only --
    independent of the source txn log, so round-trip equality actually
    proves the export describes the right files."""
    commit = os.path.join(
        table_dir, DELTA_LOG_DIR, f"{0:020d}.json"
    )
    paths = []
    with open(commit) as f:
        for line in f:
            action = json.loads(line)
            if "add" in action:
                paths.append(
                    os.path.join(table_dir, action["add"]["path"])
                )
    if not paths:
        raise ValueError(f"no add actions in {commit!r}")
    return read_parquet(spark, *paths)


@query(
    "layout_delta_export_roundtrip",
    # same final-state oracle as the other txn-log queries: the
    # fixture's head is orders minus the %7 deletes plus the %14
    # re-inserts, with the %5==1 live keys' price bumped by the v3
    # update wave (txn_log.build_txn_table)
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(CASE WHEN o_orderkey % 5 = 1
                              THEN o_totalprice + 1
                              ELSE o_totalprice END
                         AS DECIMAL(30,4))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderkey % 7 <> 0 OR o_orderkey % 14 = 0
    GROUP BY o_orderpriority
    """,
)
def layout_delta_export_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stage a private fixture instance, compact it (so the export
    covers a post-rewrite file layout, not just v0), export the head
    as a Delta commit, then aggregate the table READ BACK THROUGH THE
    DELTA LOG.  Hash-equality with the final-state SQL proves the
    exported log references exactly the live data."""
    from pyspark.sql import functions as F

    from ..functions.scalars import dec_sum

    table_dir = build_txn_table(spark, sf_dir, variant="delta-export")
    compact_table(spark, table_dir)
    export_delta_log(spark, table_dir)
    snap = read_delta_export(spark, table_dir)
    return snap.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
    )
