"""Keyed update/delete on a txn-log table (S7/S8 physical path).

``txn_log.update_by_key`` / ``delete_by_key`` must rewrite ONLY the
live files holding the key -- at 100 TB a single-key config mutation
(webhooks/route.ts:58-85) touches one file, not the snapshot -- and
swap the rewrite in with one atomic commit.  The tests pin that at the
byte level: every other live entry keeps its path and its bytes.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from hq_master_data_warehouse_spark.sources.loaders import load_table
from hq_master_data_warehouse_spark.sources.txn_log import (
    CommitConflictError,
    _rewrite_by_key,
    _write_file,
    commit,
    committed_versions,
    compact_table,
    delete_by_key,
    live_files,
    read_snapshot,
    update_by_key,
)
from tests.conftest import SF_DIR_001

KEY = "n_nationkey"


def _md5s(table_dir: str, path: str) -> dict[str, str]:
    """file name -> md5 for every data file of the live entry ``path``."""
    root = os.path.join(table_dir, path)
    out = {}
    for name in sorted(os.listdir(root)):
        if not name.startswith((".", "_")):
            with open(os.path.join(root, name), "rb") as f:
                out[name] = hashlib.md5(f.read()).hexdigest()
    return out


def _live(table_dir: str) -> dict[str, dict[str, str]]:
    return {
        f["path"]: _md5s(table_dir, f["path"]) for f in live_files(table_dir)
    }


def _orphans(table_dir: str) -> set[str]:
    """Data dirs no committed version ever added."""
    added = set()
    for v in committed_versions(table_dir):
        added |= {f["path"] for f in live_files(table_dir, v)}
    data = {n for n in os.listdir(table_dir) if not n.startswith("_")}
    return data - added


@pytest.fixture()
def nation_table(spark, tmp_path):
    """nation as three key-range files.  The zone maps overlap: key 7
    lives in ``data-1`` ([7, 19]) but also falls inside ``data-0``'s
    [0, 9], so a rewrite of every candidate shows."""
    d = str(tmp_path / "nation_txn")
    nation = load_table(spark, SF_DIR_001, "nation")
    k = F.col(KEY)
    parts = {
        "data-0": (k <= 9) & (k != 7),
        "data-1": (k == 7) | k.between(10, 19),
        "data-2": k >= 20,
    }
    adds = [
        _write_file(nation.filter(p), d, name, KEY)
        for name, p in parts.items()
    ]
    commit(d, 0, adds, [])
    return d


def _assert_only_rewrote(before, after, touched):
    """Every live entry but ``touched`` keeps its path and bytes, and
    the touched one is gone from the live set."""
    kept = {p: h for p, h in before.items() if p not in touched}
    assert {p: after[p] for p in kept if p in after} == kept
    assert touched.isdisjoint(after)


def test_update_rewrites_only_the_file_holding_the_key(spark, nation_table):
    before = _live(nation_table)
    touched = update_by_key(
        spark, nation_table, KEY, 7, {"n_name": "RENAMED_NATION"}
    )
    assert touched == ["data-1"]
    after = _live(nation_table)
    _assert_only_rewrote(before, after, {"data-1"})
    assert len(after) == 3
    snap = read_snapshot(spark, nation_table)
    assert snap.count() == 25
    assert snap.filter(F.col(KEY) == 7).select("n_name").head()[0] == (
        "RENAMED_NATION"
    )
    assert committed_versions(nation_table) == [0, 1]


def test_delete_rewrites_only_the_file_holding_the_key(spark, nation_table):
    before = _live(nation_table)
    touched = delete_by_key(spark, nation_table, KEY, 7)
    assert touched == ["data-1"]
    _assert_only_rewrote(before, _live(nation_table), {"data-1"})
    snap = read_snapshot(spark, nation_table)
    assert snap.count() == 24
    assert snap.filter(F.col(KEY) == 7).count() == 0


def test_key_no_row_holds_commits_nothing(spark, nation_table):
    """9999 is outside every zone map; after its delete, 7 is still
    inside ``data-0``'s [0, 9] but no row holds it."""
    delete_by_key(spark, nation_table, KEY, 7)
    before = _live(nation_table)
    entries = sorted(os.listdir(nation_table))
    for key in (9999, 7):
        touched = update_by_key(spark, nation_table, KEY, key, {"n_name": "X"})
        assert touched == []
    assert delete_by_key(spark, nation_table, KEY, 7) == []
    assert committed_versions(nation_table) == [0, 1]
    assert _live(nation_table) == before
    assert sorted(os.listdir(nation_table)) == entries


def test_deleting_every_row_of_a_file_drops_it(spark, nation_table):
    """``data-0`` holds keys 0-9 but 7.  Keys 8 and 9 also fall inside
    ``data-1``'s [7, 19], and ``data-1`` must come out as it went in."""
    before = _live(nation_table)
    for key in (0, 1, 2, 3, 4, 5, 6, 8, 9):
        assert len(delete_by_key(spark, nation_table, KEY, key)) == 1
    assert _live(nation_table) == {p: before[p] for p in ("data-1", "data-2")}
    assert not _orphans(nation_table)
    assert read_snapshot(spark, nation_table).count() == 16


def test_update_of_the_zone_map_key_lands_with_a_new_zone_map(
    spark, nation_table
):
    touched = update_by_key(spark, nation_table, KEY, 7, {KEY: 100})
    assert touched == ["data-1"]
    moved = read_snapshot(spark, nation_table, key_range=(100, 100))
    assert moved.filter(F.col(KEY) == 100).count() == 1
    snap = read_snapshot(spark, nation_table)
    assert snap.filter(F.col(KEY) == 7).count() == 0
    assert snap.count() == 25


def test_compaction_between_locate_and_commit_conflicts(spark, tmp_path):
    """A compaction that commits after the touched files were located
    retires them; the mutation must raise instead of dropping the
    compaction, and its own rewrite must not stay behind."""
    d = str(tmp_path / "orders_txn")
    orders = load_table(spark, SF_DIR_001, "orders")
    k = F.col("o_orderkey")
    commit(
        d,
        0,
        [
            _write_file(orders.filter(k % 2 == 0), d, "data-0"),
            _write_file(orders.filter(k % 2 == 1), d, "data-1"),
        ],
        [],
    )
    key = orders.agg(F.min("o_orderkey")).head()[0]

    def compact_then_delete(df, hit):
        compact_table(spark, d)
        return df.filter(~hit)

    with pytest.raises(CommitConflictError):
        _rewrite_by_key(spark, d, "o_orderkey", key, compact_then_delete)
    assert committed_versions(d) == [0, 1]
    assert not _orphans(d)
    assert read_snapshot(spark, d).count() == orders.count()
