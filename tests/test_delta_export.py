"""Delta-protocol export conformance (no Delta reader ships in the
sandbox, so conformance is pinned structurally against the public
PROTOCOL.md contract, and content is pinned by reading back through
the exported log only)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hq_master_data_warehouse_spark.sources.delta_export import (
    export_delta_log,
    read_delta_export,
)
from hq_master_data_warehouse_spark.sources.txn_log import (
    _write_file,
    build_txn_table,
    commit_batch_idempotent,
    compact_table,
    read_snapshot,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def exported(spark):
    d = build_txn_table(spark, SF, variant="delta-conf")
    compact_table(spark, d)
    commit = export_delta_log(spark, d)
    return d, commit


def test_commit_file_name_and_location(exported):
    d, commit = exported
    assert commit.endswith(
        os.path.join("_delta_log", "00000000000000000000.json")
    )
    assert os.path.isfile(commit)


def test_actions_conform_to_protocol(spark, exported):
    d, commit = exported
    with open(commit) as f:
        actions = [json.loads(line) for line in f]
    kinds = [next(iter(a)) for a in actions]
    assert kinds.count("protocol") == 1
    assert kinds.count("metaData") == 1
    assert kinds.count("add") >= 1

    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}

    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["format"] == {"provider": "parquet", "options": {}}
    assert meta["partitionColumns"] == []
    # schemaString must parse as a Spark StructType and match the data
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    any_add = next(a["add"] for a in actions if "add" in a)
    on_disk = spark.read.parquet(
        os.path.dirname(os.path.join(d, any_add["path"]))
    ).schema
    assert schema == on_disk

    for a in actions:
        if "add" not in a:
            continue
        add = a["add"]
        full = os.path.join(d, add["path"])
        assert os.path.isfile(full), add["path"]
        assert add["size"] == os.path.getsize(full)
        assert add["dataChange"] is True
        assert add["partitionValues"] == {}
        assert not os.path.isabs(add["path"])


def test_readback_through_delta_log_equals_head_snapshot(
    spark, exported
):
    d, _ = exported
    via_delta = (
        read_delta_export(spark, d)
        .agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("s"))
        .collect()[0]
    )
    via_txn = (
        read_snapshot(spark, d)
        .agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("s"))
        .collect()[0]
    )
    assert (via_delta.n, via_delta.s) == (via_txn.n, via_txn.s)


def test_reexport_is_stable(spark, exported):
    d, commit = exported
    with open(commit) as f:
        first = f.read()
    export_delta_log(spark, d)
    with open(commit) as f:
        second = f.read()
    # same table, same snapshot -> identical log (including the
    # deterministic table id)
    assert first == second


def test_export_of_empty_table_refuses(spark, tmp_path):
    import os as _os

    d = str(tmp_path / "empty")
    _os.makedirs(d)
    with pytest.raises(ValueError, match="nothing to export"):
        export_delta_log(spark, d)


def test_export_of_log_starting_past_version_zero(spark, tmp_path):
    """A table whose first commit is not version 0 (a streaming
    sink's versions are its batch ids) exports, and the export reads
    back row for row as the txn-log snapshot."""
    d = str(tmp_path / "late")
    os.makedirs(d)
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    for v, lo in [(7, 0), (8, 1000)]:
        part = orders.filter(F.col("o_orderkey").between(lo, lo + 999))
        commit_batch_idempotent(
            d, v, [_write_file(part, d, f"data-b{v:05d}")], []
        )
    export_delta_log(spark, d)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(read_delta_export(spark, d)) == rows(read_snapshot(spark, d))
