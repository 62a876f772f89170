"""Transaction-log table format guarantees that SQL-oracle equality
cannot express: commit atomicity, uncommitted-state invisibility,
time-travel version pinning, and zone-map file skipping."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from hq_master_data_warehouse_spark.sources.txn_log import (
    PRUNE_HI,
    PRUNE_LO,
    build_txn_table,
    commit,
    live_files,
    read_snapshot,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def table_dir(spark):
    return build_txn_table(spark, SF)


def test_versions_fold_monotonically(spark, table_dir):
    v0 = {f["path"] for f in live_files(table_dir, 0)}
    v1 = {f["path"] for f in live_files(table_dir, 1)}
    v2 = {f["path"] for f in live_files(table_dir, 2)}
    v3 = {f["path"] for f in live_files(table_dir, 3)}
    head = {f["path"] for f in live_files(table_dir)}
    assert head == v3
    # v1 rewrote every v0 file; v2 appended one; v3 (the update
    # wave) rewrote the whole head again
    assert v0.isdisjoint(v1)
    assert v1 < v2 and len(v2) == len(v1) + 1
    assert v2.isdisjoint(v3)


def test_time_travel_pins_row_counts(spark, table_dir):
    n0 = read_snapshot(spark, table_dir, version=0).count()
    n1 = read_snapshot(spark, table_dir, version=1).count()
    n2 = read_snapshot(spark, table_dir, version=2).count()
    n3 = read_snapshot(spark, table_dir, version=3).count()
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    assert n0 == orders.count()
    assert n1 == orders.filter(F.col("o_orderkey") % 7 != 0).count()
    assert n2 == orders.filter(
        (F.col("o_orderkey") % 7 != 0) | (F.col("o_orderkey") % 14 == 0)
    ).count()
    assert n1 < n2 < n0
    # the v3 UPDATE changes values, never cardinality
    assert n3 == n2


def test_uncommitted_tmp_commit_is_invisible(spark, table_dir):
    log = os.path.join(table_dir, "_txn_log")
    victim = live_files(table_dir)[0]["path"]
    tmp = os.path.join(log, "00000099.json.tmp")
    with open(tmp, "w") as f:
        json.dump(
            {"version": 99, "add": [], "remove": [victim]}, f
        )
    try:
        head = {f["path"] for f in live_files(table_dir)}
        assert victim in head, (
            "a half-written commit must not be replayed"
        )
    finally:
        os.remove(tmp)


def test_commit_is_rename_atomic(table_dir, tmp_path):
    # commit() must never leave a partial .json visible: it writes
    # .tmp then renames.  Simulate by committing into a fresh dir
    # and checking no .tmp survives and the file parses whole.
    d = str(tmp_path / "t")
    os.makedirs(d)
    commit(d, 0, [{"path": "a", "min_key": 1, "max_key": 2}], [])
    log = os.listdir(os.path.join(d, "_txn_log"))
    assert log == ["00000000.json"]
    with open(os.path.join(d, "_txn_log", log[0])) as f:
        assert json.load(f)["version"] == 0


def test_zone_map_pruning_skips_files(spark, table_dir):
    all_files = live_files(table_dir)
    lo, hi = PRUNE_LO, PRUNE_HI
    surviving = [
        f
        for f in all_files
        if f["max_key"] >= lo and f["min_key"] <= hi
    ]
    assert len(surviving) < len(all_files), (
        "the range predicate must actually skip files"
    )
    # pruned read equals unpruned read + filter (no lost rows at the
    # boundary: zone maps are inclusive)
    pruned = (
        read_snapshot(spark, table_dir, key_range=(lo, hi))
        .filter(F.col("o_orderkey").between(lo, hi))
        .count()
    )
    full = (
        read_snapshot(spark, table_dir)
        .filter(F.col("o_orderkey").between(lo, hi))
        .count()
    )
    assert pruned == full


def test_commit_first_writer_wins(tmp_path):
    d = str(tmp_path / "w")
    os.makedirs(d)
    from hq_master_data_warehouse_spark.sources.txn_log import (
        commit_batch_idempotent,
    )

    assert commit_batch_idempotent(
        d, 5, [{"path": "a", "min_key": 1, "max_key": 2}], []
    )
    # same version again: the first commit stands, no overwrite
    assert not commit_batch_idempotent(
        d, 5, [{"path": "b", "min_key": 9, "max_key": 9}], []
    )
    assert [f["path"] for f in live_files(d, 5)] == ["a"]
    with pytest.raises(FileExistsError):
        commit(d, 5, [{"path": "c", "min_key": 0, "max_key": 0}], [])


def test_streaming_txn_log_sink_exactly_once_versions(spark):
    from hq_master_data_warehouse_spark.registry import QUERIES, load_catalog

    load_catalog()
    out = QUERIES["streaming_txn_log_sink"](spark, SF).collect()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert all(r["n_versions"] == 2 for r in out)
    # two append-only batches of the same feed: exactly 2x the rows
    assert sum(r["n_events"] for r in out) == 2 * n_events


def _live_key(files):
    return sorted((f["path"], f["min_key"], f["max_key"]) for f in files)


def test_checkpoint_fold_equivalence(spark, table_dir, tmp_path):
    from hq_master_data_warehouse_spark.sources.txn_log import (
        committed_versions,
        write_checkpoint,
    )

    # a private copy without any checkpoint: ``before`` folds the log
    # exactly as the commits left it
    d = str(tmp_path / "cp")
    shutil.copytree(
        table_dir, d, ignore=shutil.ignore_patterns("*.checkpoint.json")
    )
    probes = (0, 1, 2, 3, None)
    before = {v: _live_key(live_files(d, v)) for v in probes}
    # checkpoint at v1, then every version must fold to what it
    # folded before the checkpoint existed
    write_checkpoint(d, 1)
    for v in probes:
        assert _live_key(live_files(d, v)) == before[v], (
            f"checkpoint fold diverges at version {v}"
        )
    # a checkpoint is NOT a commit: version list unchanged
    assert committed_versions(d) == [0, 1, 2, 3]
    # and only a committed version can be checkpointed: a checkpoint
    # past the head would hide the commits that later land below it
    with pytest.raises(ValueError, match="not committed"):
        write_checkpoint(d, 7)


def test_engine_paths_on_checkpointed_table(spark, tmp_path):
    """read_snapshot, commit_with_retry, compact_table and
    vacuum_table on a table with a checkpoint mid-history return what
    they return on the same table without it -- including a remove of
    a file that the fold only knows is live through the checkpoint."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        _write_file,
        commit_with_retry,
        compact_table,
        vacuum_table,
        write_checkpoint,
    )

    plain = str(tmp_path / "plain")
    os.makedirs(plain)

    def rows(*keys):
        return spark.createDataFrame(
            [(k, float(k)) for k in keys],
            "o_orderkey long, o_totalprice double",
        )

    # v0 f0, v1 f1, v2 f2 - f0, v3 f3: at head f1/f2 are live only
    # through the v2 checkpoint, f3 through the replay after it
    for v, keys, removes in [
        (0, (1, 2), []), (1, (3, 4), []), (2, (5,), ["f0"]), (3, (6,), []),
    ]:
        commit(plain, v, [_write_file(rows(*keys), plain, f"f{v}")], removes)
    cp = str(tmp_path / "cp")
    shutil.copytree(plain, cp)
    write_checkpoint(cp, 2)

    def run(d):
        def snap(v=None):
            return sorted(map(tuple, read_snapshot(spark, d, v).collect()))

        out = [snap(), snap(1), live_files(d, 1)]
        out.append(
            commit_with_retry(d, [_write_file(rows(7), d, "f4")], ["f1"])
        )
        out += [_live_key(live_files(d)), compact_table(spark, d), snap()]
        out += [vacuum_table(d, retain_last=1), snap()]
        return out

    assert run(cp) == run(plain)


def test_compact_refuses_never_committed_table(spark, tmp_path):
    """An empty log has no head to compact: the same ValueError
    vacuum_table raises, not an IndexError."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        LOG_DIR,
        compact_table,
    )

    d = str(tmp_path / "cg")
    with pytest.raises(ValueError, match="never-committed"):
        compact_table(spark, d)
    os.makedirs(os.path.join(d, LOG_DIR))
    with pytest.raises(ValueError, match="never-committed"):
        compact_table(spark, d)


def test_vacuum_destroys_history_but_not_head(spark, tmp_path):
    from hq_master_data_warehouse_spark.sources import txn_log

    # vacuum a private copy: the staged fixture is shared
    table_dir = str(tmp_path / "vac")
    shutil.copytree(build_txn_table(spark, SF), table_dir)
    txn_log.compact_table(spark, table_dir)
    versions = txn_log.committed_versions(table_dir)
    head = versions[-1]
    before = {
        r.o_orderpriority: (r.n_orders, r.total)
        for r in txn_log.read_snapshot(spark, table_dir)
        .groupBy("o_orderpriority")
        .agg(
            __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n_orders"),
            __import__("pyspark.sql.functions", fromlist=["F"]).sum("o_totalprice").alias("total"),
        )
        .collect()
    }
    stats = txn_log.vacuum_table(table_dir, retain_last=1)
    assert stats["deleted"], "compaction must have left orphans"
    assert stats["horizon"] == head
    # head snapshot unchanged
    after = {
        r.o_orderpriority: (r.n_orders, r.total)
        for r in txn_log.read_snapshot(spark, table_dir)
        .groupBy("o_orderpriority")
        .agg(
            __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n_orders"),
            __import__("pyspark.sql.functions", fromlist=["F"]).sum("o_totalprice").alias("total"),
        )
        .collect()
    }
    assert after == before
    # pre-horizon time travel now fails: its files are gone
    import pytest as _pytest

    with _pytest.raises(Exception):
        txn_log.read_snapshot(spark, table_dir, versions[0]).collect()
    # idempotent: nothing left to sweep
    again = txn_log.vacuum_table(table_dir, retain_last=1)
    assert again["deleted"] == []


def test_vacuum_mtime_guard_spares_young_files(spark, tmp_path):
    from hq_master_data_warehouse_spark.sources import txn_log

    # a private copy of the shared fixture, every entry made young
    # (copytree keeps the staged table's mtimes)
    table_dir = str(tmp_path / "vac")
    shutil.copytree(build_txn_table(spark, SF), table_dir)
    for root, dirs, files in os.walk(table_dir):
        for name in dirs + files:
            os.utime(os.path.join(root, name))
    txn_log.compact_table(spark, table_dir)
    # everything on disk is young: a guarded vacuum must sweep nothing
    stats = txn_log.vacuum_table(
        table_dir, retain_last=1, min_age_s=3600
    )
    assert stats["deleted"] == []
    # files still present -> old snapshots still readable
    v0 = txn_log.committed_versions(table_dir)[0]
    assert txn_log.read_snapshot(spark, table_dir, v0).count() > 0


def test_concurrent_writers_all_commit_distinct_versions(tmp_path):
    """8 threads x 5 blind-append commits race on the same log: the
    optimistic retry loop must land all 40 at distinct versions with
    no lost updates -- the multi-writer contract Delta/Iceberg build
    on the same first-writer-wins primitive."""
    import threading

    from hq_master_data_warehouse_spark.sources.txn_log import (
        commit_with_retry,
        committed_versions,
    )

    d = str(tmp_path / "mw")
    os.makedirs(d)
    won: list[int] = []
    lock = threading.Lock()
    errors: list[BaseException] = []

    def writer(wid: int) -> None:
        try:
            for i in range(5):
                v = commit_with_retry(
                    d,
                    [{"path": f"w{wid}_{i}", "min_key": 0, "max_key": 0}],
                    [],
                    max_attempts=500,
                )
                with lock:
                    won.append(v)
        except BaseException as e:  # noqa: BLE001
            with lock:
                errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sorted(won) == list(range(40))  # every commit, no gaps
    assert committed_versions(d) == list(range(40))
    # every writer's every file is live: nothing was lost
    paths = {f["path"] for f in live_files(d, None)}
    assert paths == {f"w{w}_{i}" for w in range(8) for i in range(5)}


def test_first_writers_race_log_dir_creation(tmp_path):
    """The dir-creation race called out in committed_versions (ADVICE
    r8 / VERDICT r8 item 4): concurrent FIRST writers on a table whose
    ``_txn_log`` dir does not exist yet must serialize through the
    optimistic loop -- every committer either lands a distinct version
    or fails loudly; no committer may silently lose its commit or
    corrupt the log.  Both writers read head=-1 through the absent-dir
    fallback, both attempt version 0, exactly one os.link wins, the
    loser re-reads and lands version 1."""
    import threading

    from hq_master_data_warehouse_spark.sources.txn_log import (
        commit_with_retry,
        committed_versions,
    )

    d = str(tmp_path / "fresh")  # NOT created: the race under test
    start = threading.Barrier(8)
    won: list[int] = []
    lock = threading.Lock()
    errors: list[BaseException] = []

    def first_writer(wid: int) -> None:
        try:
            start.wait()  # maximize the simultaneous-first-commit race
            v = commit_with_retry(
                d,
                [{"path": f"first_{wid}", "min_key": 0, "max_key": 0}],
                [],
                max_attempts=500,
            )
            with lock:
                won.append(v)
        except BaseException as e:  # noqa: BLE001
            with lock:
                errors.append(e)

    threads = [
        threading.Thread(target=first_writer, args=(w,))
        for w in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sorted(won) == list(range(8))
    assert committed_versions(d) == list(range(8))
    assert {f["path"] for f in live_files(d, None)} == {
        f"first_{w}" for w in range(8)
    }


def test_idempotent_commit_same_version_single_winner(tmp_path):
    """commit_batch_idempotent under contention: many threads replaying
    the SAME batch version (the streaming-sink retry storm) -- exactly
    one returns True, the rest no-op False, and the committed action is
    one of the attempted payloads intact (never an interleaving)."""
    import threading

    from hq_master_data_warehouse_spark.sources.txn_log import (
        commit_batch_idempotent,
        committed_versions,
    )

    d = str(tmp_path / "idem")  # log dir also created under the race
    start = threading.Barrier(8)
    results: list[tuple[int, bool]] = []
    lock = threading.Lock()

    def replayer(wid: int) -> None:
        start.wait()
        ok = commit_batch_idempotent(
            d,
            7,
            [{"path": f"b7_w{wid}", "min_key": wid, "max_key": wid}],
            [],
        )
        with lock:
            results.append((wid, ok))

    threads = [
        threading.Thread(target=replayer, args=(w,)) for w in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [wid for wid, ok in results if ok]
    assert len(winners) == 1
    assert committed_versions(d) == [7]
    live = live_files(d, None)
    assert len(live) == 1
    # the committed payload is the winner's, whole
    assert live[0]["path"] == f"b7_w{winners[0]}"
    assert live[0]["min_key"] == winners[0]


def test_stale_remove_raises_conflict_not_lost_update(tmp_path):
    """Write-write conflict detection: a transaction holding a stale
    view that plans to remove a file another writer already removed
    must get CommitConflictError, never a silent commit that drops
    the other writer's change."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        CommitConflictError,
        commit_with_retry,
    )

    d = str(tmp_path / "cf")
    os.makedirs(d)
    commit_with_retry(
        d, [{"path": "base", "min_key": 0, "max_key": 9}], []
    )
    # writer A compacts base away
    commit_with_retry(
        d, [{"path": "compacted", "min_key": 0, "max_key": 9}], ["base"]
    )
    # writer B, stale, also wants to rewrite base
    with pytest.raises(CommitConflictError, match="base"):
        commit_with_retry(
            d, [{"path": "other", "min_key": 0, "max_key": 9}], ["base"]
        )
    # blind appends never conflict
    v = commit_with_retry(
        d, [{"path": "append", "min_key": 1, "max_key": 1}], []
    )
    assert v == 2


def test_vacuum_guards_empty_log_and_bad_retention(tmp_path):
    """vacuum_table must refuse an empty/never-committed log and a
    retention that would delete every live file."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        LOG_DIR,
        vacuum_table,
    )

    d = str(tmp_path / "vg")
    os.makedirs(os.path.join(d, LOG_DIR))
    with pytest.raises(ValueError, match="never-committed"):
        vacuum_table(d)
    commit(d, 0, [{"path": "a", "min_key": 0, "max_key": 0}], [])
    with pytest.raises(ValueError, match="retain_last"):
        vacuum_table(d, retain_last=0)


def test_empty_table_remove_raises_conflict_not_oserror(tmp_path):
    """ADVICE r5: a remove-bearing commit against a never-committed
    table (no log dir at all, or an empty one) must raise the
    documented CommitConflictError -- not leak FileNotFoundError out
    of live_files, and not produce a 'no longer live at v-1' message."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        CommitConflictError,
        commit_with_retry,
    )

    d = str(tmp_path / "empty")
    os.makedirs(d)
    # no log dir yet: live_files folds to the empty set, not an error
    assert live_files(d) == []
    with pytest.raises(CommitConflictError, match="empty table"):
        commit_with_retry(
            d, [{"path": "x", "min_key": 0, "max_key": 0}], ["ghost"]
        )
    # the failed attempt must not have committed anything
    assert live_files(d) == []
    # a clean blind append still lands at v0 afterwards
    assert (
        commit_with_retry(
            d, [{"path": "x", "min_key": 0, "max_key": 0}], []
        )
        == 0
    )


def test_pinned_reader_survives_concurrent_compact_and_guarded_vacuum(
    spark, tmp_path
):
    """VERDICT r5 item 6: a reader pinned at version V must see a
    byte-stable snapshot while compaction commits a new version and
    while vacuum runs with a retention window covering V; only a
    vacuum whose horizon passes V may break the pinned read (the
    documented destructive contract)."""
    import shutil
    import threading

    from hq_master_data_warehouse_spark.sources.txn_log import (
        build_txn_table,
        committed_versions,
        compact_table,
        read_snapshot,
        vacuum_table,
    )

    src = build_txn_table(spark, SF, variant="rdr-src")
    d = str(tmp_path / "rdr")
    shutil.copytree(src, d)

    pinned_v = committed_versions(d)[-1]
    baseline = (
        read_snapshot(spark, d, pinned_v)
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("keysum"),
        )
        .collect()[0]
    )

    observations: list[tuple] = []
    errors: list[str] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                row = (
                    read_snapshot(spark, d, pinned_v)
                    .agg(
                        F.count("*").alias("n"),
                        F.sum("o_orderkey").alias("keysum"),
                    )
                    .collect()[0]
                )
                observations.append((row.n, row.keysum))
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e)[:300])

    t = threading.Thread(target=reader)
    t.start()
    try:
        # churn under the reader: compaction swaps the live file set,
        # guarded vacuum deletes only files outside the retention
        # window (which still covers pinned_v)
        new_head = compact_table(spark, d)
        assert new_head == pinned_v + 1
        n_versions = len(committed_versions(d))
        vacuum_table(d, retain_last=n_versions)
    finally:
        stop.set()
        t.join(timeout=120)

    assert not errors, errors[:3]
    assert observations, "reader thread never completed a snapshot"
    assert set(observations) == {(baseline.n, baseline.keysum)}

    # pinned read still valid after the churn settles
    after = (
        read_snapshot(spark, d, pinned_v)
        .agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("keysum"))
        .collect()[0]
    )
    assert (after.n, after.keysum) == (baseline.n, baseline.keysum)

    # only a horizon PAST the pinned version may break it
    res = vacuum_table(d, retain_last=1)
    assert res["horizon"] > pinned_v
    with pytest.raises(Exception):
        read_snapshot(spark, d, pinned_v).count()


def test_change_feed_derives_mutations_from_log_alone(spark, tmp_path):
    """source_txn_log_changes' diff engine on a HAND-BUILT table: the
    change feed must report exactly the per-version delete/insert/
    update sets, derived from the log with no knowledge of how the
    table was mutated -- including the same-key value change inside a
    rewrite, which emits a Delta-CDF-style pre/postimage row pair
    (VERDICT r10 item 2: this used to be dropped as
    rewritten-unchanged)."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        _write_file,
        commit,
        committed_versions,
        snapshot_changes,
    )

    d = str(tmp_path / "cdf")
    os.makedirs(d)

    def orders_df(rows):
        return spark.createDataFrame(
            rows, "o_orderkey long, o_totalprice double"
        )

    # v0: keys 1..6
    v0 = orders_df([(k, 10.0 * k) for k in range(1, 7)])
    commit(d, 0, [_write_file(v0, d, "f0")], [])
    # v1: delete 2 and 4, update 6 -> 600.0 (delete+insert same key)
    v1 = orders_df(
        [(1, 10.0), (3, 30.0), (5, 50.0), (6, 600.0)]
    )
    commit(d, 1, [_write_file(v1, d, "f1")], ["f0"])
    # v2: insert 7
    v2_add = orders_df([(7, 70.0)])
    commit(d, 2, [_write_file(v2_add, d, "f2")], [])
    assert committed_versions(d) == [0, 1, 2]

    # THE operator's diff engine (not a reimplementation): the same
    # snapshot_changes the registered query wraps
    feed = {
        (r.version, r.change_type): (r.n_rows, r.total_price)
        for r in snapshot_changes(spark, d).collect()
    }
    # the in-place update of key 6 (60.0 -> 600.0 inside the v1
    # rewrite) surfaces as an update pre/postimage pair; keys 1/3/5,
    # rewritten at UNCHANGED values, emit nothing; empty change types
    # are absent, not zero rows
    assert feed == {
        (1, "delete"): (2, 10.0 * 2 + 10.0 * 4),
        (1, "update_preimage"): (1, 60.0),
        (1, "update_postimage"): (1, 600.0),
        (2, "insert"): (1, 70.0),
    }


def test_change_feed_version_window(spark, tmp_path):
    """since/until bound the feed like Delta's table_changes(start,
    end): the windowed row feed equals the version-filtered full
    feed, an incremental consumer stepping one version at a time sees
    every change exactly once, and an empty window yields the empty
    stable-schema feed (the O(window) driver-work claim in
    change_rows is only honest if the window actually exists)."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        _write_file,
        change_rows,
        commit,
    )

    d = str(tmp_path / "cdfwin")
    os.makedirs(d)

    def orders_df(rows):
        return spark.createDataFrame(
            rows, "o_orderkey long, o_totalprice double"
        )

    commit(d, 0, [_write_file(orders_df(
        [(k, 10.0 * k) for k in range(1, 7)]), d, "f0")], [])
    commit(d, 1, [_write_file(orders_df(
        [(1, 10.0), (3, 30.0), (5, 50.0), (6, 600.0)]), d, "f1")],
        ["f0"])
    commit(d, 2, [_write_file(orders_df([(7, 70.0)]), d, "f2")], [])
    commit(d, 3, [_write_file(orders_df(
        [(1, 10.0), (3, 33.0), (5, 50.0), (6, 600.0)]), d, "f3")],
        ["f1"])

    def rows(**kw):
        return {
            (r.version, r.change_type, r.key, r.value)
            for r in change_rows(spark, d, **kw).collect()
        }

    full = rows()
    assert {v for v, *_ in full} == {1, 2, 3}
    # windowed == filtered full feed
    assert rows(since_version=1) == {
        r for r in full if r[0] > 1
    }
    assert rows(until_version=2) == {r for r in full if r[0] <= 2}
    assert rows(since_version=1, until_version=2) == {
        r for r in full if r[0] == 2
    }
    # incremental consumer: one-version steps partition the feed
    stepped = set()
    for v in (0, 1, 2):
        stepped |= rows(since_version=v, until_version=v + 1)
    assert stepped == full
    # empty window: stable schema, zero rows
    empty = change_rows(spark, d, since_version=3)
    assert empty.columns == ["version", "change_type", "key", "value"]
    assert empty.count() == 0


def test_change_feed_empty_table_and_single_version(spark, tmp_path):
    """Fewer than two committed versions = no adjacent pairs: the feed
    is EMPTY with the stable schema, never IndexError (ADVICE r9)."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        _write_file,
        commit,
        snapshot_changes,
    )

    d = str(tmp_path / "cdf0")
    os.makedirs(d)
    want = ["version", "change_type", "n_rows", "total_price"]

    # never-committed table
    feed = snapshot_changes(spark, d)
    assert feed.columns == want
    assert feed.count() == 0

    # exactly one committed version: the initial load is not a change
    v0 = spark.createDataFrame(
        [(1, 10.0)], "o_orderkey long, o_totalprice double"
    )
    commit(d, 0, [_write_file(v0, d, "f0")], [])
    feed = snapshot_changes(spark, d)
    assert feed.columns == want
    assert feed.count() == 0


def test_change_feed_reads_only_touched_files(spark, tmp_path):
    """File-level CDF (VERDICT r9 item 1): a version's delta is
    derived from ONLY the files that version's log action touched.
    Pinned two ways: (1) a selective rewrite of one of three files
    reports exactly that file's key diff; (2) deleting the UNTOUCHED
    files' bytes from disk does not break the feed -- a snapshot-diff
    implementation would have to read them and crash."""
    import shutil

    from hq_master_data_warehouse_spark.sources.txn_log import (
        _write_file,
        commit,
        snapshot_changes,
    )

    d = str(tmp_path / "cdfsel")
    os.makedirs(d)

    def orders_df(rows):
        return spark.createDataFrame(
            rows, "o_orderkey long, o_totalprice double"
        )

    # v0: three key-clustered files
    fa = _write_file(orders_df([(1, 10.0), (2, 20.0)]), d, "fa")
    fb = _write_file(orders_df([(3, 30.0), (4, 40.0)]), d, "fb")
    fc = _write_file(orders_df([(5, 50.0), (6, 60.0)]), d, "fc")
    commit(d, 0, [fa, fb, fc], [])
    # v1: rewrite ONLY fb -- delete key 4, insert key 7
    fb2 = _write_file(orders_df([(3, 30.0), (7, 70.0)]), d, "fb2")
    commit(d, 1, [fb2], ["fb"])
    # v2: pure append (no join side at all)
    f8 = _write_file(orders_df([(8, 80.0)]), d, "f8")
    commit(d, 2, [f8], [])

    # untouched files' data gone: the feed must not need them
    shutil.rmtree(os.path.join(d, "fa"))
    shutil.rmtree(os.path.join(d, "fc"))

    feed = {
        (r.version, r.change_type): (r.n_rows, r.total_price)
        for r in snapshot_changes(spark, d).collect()
    }
    assert feed == {
        (1, "delete"): (1, 40.0),
        (1, "insert"): (1, 70.0),
        (2, "insert"): (1, 80.0),
    }


def test_change_feed_deep_history_single_scan_plan(spark, tmp_path):
    """The r10 single-scan CDF contract: a feed over a DEEP commit
    history compiles to ONE parquet FileScan (all touched files in
    one read, the action map broadcast), not an O(versions)-branch
    union of per-version scans -- the property that keeps plan size
    and listing cost flat as history grows."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        _write_file,
        commit,
        snapshot_changes,
    )

    d = str(tmp_path / "deep")
    os.makedirs(d)

    def orders_df(rows):
        return spark.createDataFrame(
            rows, "o_orderkey long, o_totalprice double"
        )

    def build(root: str, n_versions: int):
        os.makedirs(root)
        commit(
            root,
            0,
            [_write_file(orders_df([(0, 5.0)]), root, "f0")],
            [],
        )
        for v in range(1, n_versions):
            f = _write_file(
                orders_df([(100 + v, 1.0 * v)]), root, f"f{v}"
            )
            commit(root, v, [f], [])
        feed = snapshot_changes(spark, root)
        rows = {
            (r.version, r.change_type): r.n_rows
            for r in feed.collect()
        }
        assert rows == {
            (v, "insert"): 1 for v in range(1, n_versions)
        }
        plan = feed._jdf.queryExecution().executedPlan().toString()
        return plan.count("Scan parquet")

    shallow = build(str(tmp_path / "deep3"), 3)
    deep = build(str(tmp_path / "deep12"), 12)
    # ONE parquet relation feeds the whole feed (AQE prints the same
    # scan node in both its initial- and final-plan sections, hence
    # <= 2 occurrences); critically the count DOES NOT GROW with
    # history depth -- the old per-version union plan scaled its scan
    # nodes with the version count
    assert deep == shallow <= 2


def test_change_feed_null_value_transitions(spark, tmp_path):
    """The update classification is NULL-SAFE: NULL -> value and
    value -> NULL are updates (the pre/postimage row carries NULL
    into the decimal sum, which ignores it), NULL -> NULL inside a
    rewrite is value-unchanged and emits nothing."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        _write_file,
        commit,
        snapshot_changes,
    )

    d = str(tmp_path / "cdfnull")
    os.makedirs(d)

    def orders_df(rows):
        return spark.createDataFrame(
            rows, "o_orderkey long, o_totalprice double"
        )

    # v0: key 1 NULL, key 2 NULL, key 3 30.0
    v0 = orders_df([(1, None), (2, None), (3, 30.0)])
    commit(d, 0, [_write_file(v0, d, "f0")], [])
    # v1 rewrite: 1 NULL->10.0 (update), 2 NULL->NULL (unchanged),
    # 3 30.0->NULL (update)
    v1 = orders_df([(1, 10.0), (2, None), (3, None)])
    commit(d, 1, [_write_file(v1, d, "f1")], ["f0"])

    feed = {
        (r.version, r.change_type): (r.n_rows, r.total_price)
        for r in snapshot_changes(spark, d).collect()
    }
    # two updates; preimage sum sees only key 3's 30.0 (key 1's pre
    # is NULL), postimage sum only key 1's 10.0
    assert feed == {
        (1, "update_preimage"): (2, 30.0),
        (1, "update_postimage"): (2, 10.0),
    }


def test_checkpoint_fold_deep_history(tmp_path, monkeypatch):
    """Executable evidence for the module docstring's claim that
    checkpointing bounds log replay (VERDICT r10 item 7): on a
    several-hundred-commit log of interleaved appends, rewrites and
    prunes, checkpoints written every CHECKPOINT_EVERY commits leave
    the live set at every probed version -- between checkpoints, at
    checkpoints and at head -- what it was before they existed, and
    the fold opens only the newest usable checkpoint plus the commits
    after it.  Metadata-only (commits carry synthetic paths;
    live_files never reads data), so 300 commits cost milliseconds."""
    import builtins
    import random

    from hq_master_data_warehouse_spark.sources import txn_log
    from hq_master_data_warehouse_spark.sources.txn_log import (
        committed_versions,
        write_checkpoint,
    )

    CHECKPOINT_EVERY = 10
    d = str(tmp_path / "deepcp")
    os.makedirs(d)
    rng = random.Random(1107)
    live: list[str] = []
    n_commits = 300
    for v in range(n_commits):
        adds, removes = [], []
        kind = rng.choice(["append", "append", "rewrite", "prune"])
        if kind == "append" or not live:
            for i in range(rng.randint(1, 3)):
                adds.append(
                    {"path": f"f{v}_{i}", "min_key": v, "max_key": v}
                )
        elif kind == "rewrite":
            victim = rng.choice(live)
            removes.append(victim)
            adds.append(
                {"path": f"rw{v}", "min_key": v, "max_key": v}
            )
        else:  # prune
            removes.append(rng.choice(live))
        commit(d, v, adds, removes)
        for p in removes:
            live.remove(p)
        live += [a["path"] for a in adds]

    assert committed_versions(d) == list(range(n_commits))
    # probe around checkpoint boundaries, mid-intervals, and head
    probes = sorted({0, 1, CHECKPOINT_EVERY - 1, CHECKPOINT_EVERY,
                     CHECKPOINT_EVERY + 1, 155, 156, 290, n_commits - 1})
    before = {v: _live_key(live_files(d, v)) for v in probes + [None]}
    for v in range(CHECKPOINT_EVERY, n_commits, CHECKPOINT_EVERY):
        write_checkpoint(d, v)

    opened: list[str] = []

    def spy(path, *args, **kwargs):
        opened.append(os.path.basename(path))
        return builtins.open(path, *args, **kwargs)

    monkeypatch.setattr(txn_log, "open", spy, raising=False)
    for v in probes + [None]:
        opened.clear()
        assert _live_key(live_files(d, v)) == before[v], (
            f"checkpoint fold diverges at version {v}"
        )
        top = n_commits - 1 if v is None else v
        base = top - top % CHECKPOINT_EVERY  # 0: no checkpoint <= top
        expect = [
            f"{u:08d}.json" for u in range(base + 1 if base else 0, top + 1)
        ]
        if base:
            expect.insert(0, f"{base:08d}.checkpoint.json")
        assert opened == expect, f"version {v} replayed {opened}"
    # head fold through checkpoints agrees with the python model too
    assert [p for p, _, _ in _live_key(live_files(d))] == sorted(live)


# -- property test: the file-level CDF equals the snapshot-level diff
#    on ARBITRARY mutation workloads that respect the writer contract
#    (a writer touching a key rewrites its containing file).  The
#    reference model folds snapshots in pure Python; the engine
#    derives the feed from per-version file actions only.  Rewrites
#    MUTATE surviving values (+1.0 per rewrite), so the model also
#    exercises the update pre/postimage classification on keys that
#    are rewritten multiple times.
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ops = st.lists(
    st.one_of(
        # append n fresh keys
        st.tuples(st.just("append"), st.integers(1, 4), st.just(0)),
        # rewrite one live file: drop keys where (key % 3 == mod),
        # bump surviving values, optionally add one fresh key
        st.tuples(st.just("rewrite"), st.integers(0, 5), st.integers(0, 2)),
        # prune one live file entirely
        st.tuples(st.just("prune"), st.integers(0, 5), st.just(0)),
    ),
    min_size=1,
    max_size=4,
)


def _run_cdf_workload(spark, d: str, ops) -> list[dict[int, float]]:
    """Stage a txn-log table at ``d`` from the random op list and
    return the pure-python snapshot model (key -> value per version).
    Shared by the aggregate-feed and row-feed-apply property tests."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        _write_file,
        commit,
    )

    def write(rows, name):
        df = spark.createDataFrame(
            sorted(rows.items()),
            "o_orderkey long, o_totalprice double",
        )
        return _write_file(df, d, name)

    files: dict[str, dict[int, float]] = {}  # live name -> rows
    snapshots: list[dict[int, float]] = []
    next_key = [0]
    seq = [0]

    def fresh_rows(n):
        # every 4th/5th key is born with a NULL value (VERDICT r12
        # item 3: legitimate NULLs must be distinguishable from
        # deletes end-to-end); odd multiples of 5 stay NULL through
        # rewrites, exercising NULL->NULL rewrite noise.
        rows = {}
        for _ in range(n):
            next_key[0] += 1
            k = next_key[0]
            rows[k] = (
                None if (k % 4 == 0 or k % 5 == 0) else 10.0 * k
            )
        return rows

    def do_commit(add_rows_by_name, remove_names):
        version = len(snapshots)
        adds = []
        for name, rows in add_rows_by_name.items():
            adds.append(write(rows, name))
            files[name] = rows
        for name in remove_names:
            del files[name]
        commit(d, version, adds, list(remove_names))
        snap = {}
        for rows in files.values():
            snap.update(rows)
        snapshots.append(dict(snap))

    # v0: initial load -- 5 keys so the seed snapshot always carries
    # NULL values (keys 4 and 5), exercising the sync consumer's
    # tombstone-vs-NULL distinction from the very first window
    do_commit({"init": fresh_rows(5)}, [])
    for kind, a, b in ops:
        seq[0] += 1
        name = f"f{seq[0]}"
        if kind == "append":
            do_commit({name: fresh_rows(a)}, [])
        elif not files:
            continue
        elif kind == "rewrite":
            victim = sorted(files)[a % len(files)]
            old = files[victim]
            # even keys mutate (-> update pre/post pair), odd keys
            # are rewritten at the SAME value (-> must emit nothing,
            # including odd NULL-valued keys: NULL->NULL is noise).
            # Mutation covers the NULL transitions too: NULL -> 1.0
            # and (keys = 2 mod 10) value -> NULL.
            def mut(k, v):
                if v is None:
                    return 1.0
                return None if k % 10 == 2 else v + 1.0

            new = {
                k: (mut(k, v) if k % 2 == 0 else v)
                for k, v in old.items()
                if k % 3 != b
            }
            new.update(fresh_rows(1))
            do_commit({name: new}, [victim])
        else:  # prune
            victim = sorted(files)[a % len(files)]
            do_commit({}, [victim])
    return snapshots


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=_ops)
def test_change_feed_matches_snapshot_model_on_random_workloads(
    spark, tmp_path_factory, ops
):
    import collections

    from hq_master_data_warehouse_spark.sources.txn_log import (
        snapshot_changes,
    )

    d = str(tmp_path_factory.mktemp("cdfprop"))
    snapshots = _run_cdf_workload(spark, d, ops)

    # reference: per-version key diff of adjacent folded snapshots
    # NULL-value convention: SUM skips NULLs on the engine side, so
    # the model adds 0.0 for a NULL value and the collected NULL
    # total (all-NULL group) maps to 0.0 -- counts still verify the
    # NULL rows were classified (VERDICT r12 item 3 workloads).
    want = collections.defaultdict(lambda: [0, 0.0])
    for v in range(1, len(snapshots)):
        prev, cur = snapshots[v - 1], snapshots[v]
        for k in prev.keys() - cur.keys():
            cell = want[(v, "delete")]
            cell[0] += 1
            cell[1] += prev[k] or 0.0
        for k in cur.keys() - prev.keys():
            cell = want[(v, "insert")]
            cell[0] += 1
            cell[1] += cur[k] or 0.0
        for k in prev.keys() & cur.keys():
            if prev[k] != cur[k]:
                pre = want[(v, "update_preimage")]
                pre[0] += 1
                pre[1] += prev[k] or 0.0
                post = want[(v, "update_postimage")]
                post[0] += 1
                post[1] += cur[k] or 0.0

    got = {
        (r.version, r.change_type): [
            r.n_rows,
            r.total_price if r.total_price is not None else 0.0,
        ]
        for r in snapshot_changes(spark, d).collect()
    }
    assert {k: (v[0], round(v[1], 4)) for k, v in got.items()} == {
        k: (v[0], round(v[1], 4)) for k, v in want.items()
    }


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=_ops)
def test_row_level_feed_apply_reconstructs_snapshots(
    spark, tmp_path_factory, ops
):
    """The CDC sufficiency invariant: folding the ROW-LEVEL change
    feed (change_rows) onto snapshot v0 reconstructs any later
    snapshot exactly -- i.e. the feed carries everything a downstream
    replica needs to MERGE-sync (the consumer the aggregate CDF
    oracle cannot certify).  The fold itself runs IN SPARK -- last
    non-preimage change per key via max_by(version), full-joined onto
    the v0 base -- proving the feed is engine-consumable, not just
    model-equivalent.  Probed at the first transition and at head."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        change_rows,
        read_snapshot,
    )

    d = str(tmp_path_factory.mktemp("cdfapply"))
    snapshots = _run_cdf_workload(spark, d, ops)
    if len(snapshots) < 2:
        return
    feed = change_rows(spark, d).filter(
        F.col("change_type") != "update_preimage"
    )
    base = read_snapshot(spark, d, 0).select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("bval"),
    )
    for v in sorted({1, len(snapshots) - 1}):
        last = (
            feed.filter(F.col("version") <= v)
            .groupBy("key")
            .agg(
                F.max_by(
                    F.struct(
                        F.col("change_type").alias("ct"),
                        F.col("value").alias("val"),
                    ),
                    F.col("version"),
                ).alias("s")
            )
        )
        recon = (
            base.join(last, "key", "full")
            .select(
                "key",
                F.when(F.col("s").isNull(), F.col("bval"))
                .otherwise(F.col("s.val"))
                .alias("v"),
                # EXPLICIT tombstone flag, not a NULL sentinel
                # (VERDICT r12 item 3): a legitimately-NULL value
                # must survive the fold while a deleted key drops.
                F.coalesce(
                    F.col("s.ct") == "delete", F.lit(False)
                ).alias("dead"),
            )
            .filter(~F.col("dead"))
        )
        got = {r.key: r.v for r in recon.collect()}
        assert got == snapshots[v], f"apply diverges at version {v}"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=_ops, split=st.integers(min_value=0, max_value=5))
def test_incremental_merge_sync_windows_equal_full_fold(
    spark, tmp_path_factory, ops, split
):
    """VERDICT r11 item 6, the windowed incremental path: consuming
    version windows one commit at a time through the REAL
    ``incremental_merge_sync`` consumer reconstructs the head
    snapshot exactly, on random mutation workloads -- and an
    ARBITRARY two-window split of the same history gives the
    identical replica, so windows compose (every change applied
    exactly once regardless of how a standing sync batches its
    wake-ups)."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        incremental_merge_sync,
    )

    d = str(tmp_path_factory.mktemp("cdfsync"))
    snapshots = _run_cdf_workload(spark, d, ops)
    if len(snapshots) < 2:
        return
    head = len(snapshots) - 1

    # default cadence: one window per commit
    got = {
        r.key: r.value
        for r in incremental_merge_sync(spark, d).collect()
    }
    assert got == snapshots[head], "stepped sync diverges from head"

    # arbitrary re-batching of the same history into two windows
    mid = min(split, head)
    wins = [w for w in ((0, mid), (mid, head)) if w[0] < w[1]]
    got2 = {
        r.key: r.value
        for r in incremental_merge_sync(
            spark, d, windows=wins
        ).collect()
    }
    assert got2 == snapshots[head], (
        f"re-batched sync (windows={wins}) diverges from head"
    )


def test_incremental_sync_replica_never_shuffles(spark, tmp_path):
    """The standing-sync scale property: each window's MERGE is a
    broadcast anti-join + union, so THE REPLICA NEVER SHUFFLES --
    without the explicit hint the planner (blind to the
    localCheckpoint's size) chose a sort-merge anti-join whose
    replica-side exchange had already executed by the time AQE
    re-planned the join.  Pin: the final window's executed plan has a
    broadcast LeftAnti and NO exchange on the replica side (the only
    exchanges are the net's aggregation and its broadcast)."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        _write_file,
        commit,
        incremental_merge_sync,
    )

    d = str(tmp_path / "syncplan")
    os.makedirs(d)

    def orders_df(rows):
        return spark.createDataFrame(
            rows, "o_orderkey long, o_totalprice double"
        )

    commit(d, 0, [_write_file(orders_df(
        [(k, 10.0 * k) for k in range(1, 7)]), d, "f0")], [])
    commit(d, 1, [_write_file(orders_df(
        [(1, 10.0), (3, 30.0), (6, 600.0)]), d, "f1")], ["f0"])
    commit(d, 2, [_write_file(orders_df([(7, 70.0)]), d, "f2")], [])

    replica = incremental_merge_sync(spark, d)
    # values: 2,4,5 deleted; 6 updated; 7 inserted
    assert {r.key: r.value for r in replica.collect()} == {
        1: 10.0, 3: 30.0, 6: 600.0, 7: 70.0
    }
    # the replica is a localCheckpoint of the last window's merge --
    # inspect that merge's plan via one more manual window over the
    # pre-head replica
    pre = incremental_merge_sync(spark, d, windows=[(0, 1)])
    from hq_master_data_warehouse_spark.sources.txn_log import (
        change_rows,
    )
    from pyspark.sql import functions as F

    net = (
        change_rows(spark, d, since_version=1, until_version=2)
        .filter(F.col("change_type") != "update_preimage")
        .groupBy("key")
        .agg(F.max_by(F.struct("change_type", "value"), "version"))
        .localCheckpoint()
    )
    j = pre.join(F.broadcast(net.select("key")), "key", "left_anti")
    j.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted"
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin LeftAnti" in final
    assert "SortMergeJoin" not in final
    # replica side: a bare checkpoint scan straight into the join --
    # the only exchange in the merge is the net's broadcast
    assert final.count("Exchange") == final.count("BroadcastExchange")


def test_incremental_sync_refuses_malformed_windows(spark, tmp_path):
    """Gapped or overlapping window batchings corrupt a replica
    SILENTLY (missed changes / double-applied changes) -- the
    consumer must refuse them loudly instead."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        _write_file,
        commit,
        incremental_merge_sync,
    )

    d = str(tmp_path / "syncguard")
    os.makedirs(d)
    df = spark.createDataFrame(
        [(1, 10.0)], "o_orderkey long, o_totalprice double"
    )
    for v in range(4):
        commit(d, v, [_write_file(df, d, f"f{v}")], [])

    for bad in (
        [(0, 1), (2, 3)],  # gap: version 2's changes missed
        [(0, 2), (1, 3)],  # overlap: (1,2] applied twice
        [(1, 2)],          # does not start at start_version
        [(0, 0)],          # empty/inverted window
    ):
        with pytest.raises(ValueError, match="contiguous"):
            incremental_merge_sync(spark, d, windows=bad)


def test_sync_tombstones_keep_null_values_drop_deleted_keys(spark):
    """VERDICT r12 item 3, oracle-side guard: the NULL-variant table
    must actually exercise the tombstone-vs-NULL distinction -- the
    synced replica holds NULL-valued live keys (a NULL-sentinel fold
    would drop them), holds the NULL->value keys at NULL_FILL, and
    does NOT hold deleted keys."""
    from hq_master_data_warehouse_spark.sources.txn_log import (
        DEL_MOD,
        NULL_FILL,
        NULLV_MOD,
        NULLV_REM,
        READD_MOD,
        UPD_MOD,
        UPD_REM,
        build_txn_table_nulls,
        incremental_merge_sync,
    )

    d = build_txn_table_nulls(spark, SF)
    got = {
        r.key: r.value
        for r in incremental_merge_sync(spark, d).collect()
    }
    assert got, "empty replica"
    live = lambda k: k % DEL_MOD != 0 or k % READD_MOD == 0  # noqa: E731
    null_live = [
        k for k in got if got[k] is None and k % UPD_MOD == UPD_REM
    ]
    assert null_live, "no value->NULL live keys -- variant is inert"
    filled = [
        k
        for k in got
        if k % NULLV_MOD == NULLV_REM
        and k % UPD_MOD == 2
        and live(k)
    ]
    assert filled, "no NULL->value keys -- variant is inert"
    assert all(got[k] == NULL_FILL for k in filled)
    born_null_noise = [
        k
        for k in got
        if k % NULLV_MOD == NULLV_REM
        and k % UPD_MOD not in (2, UPD_REM)
        and live(k)
    ]
    assert born_null_noise and all(
        got[k] is None for k in born_null_noise
    ), "born-NULL keys must stay NULL through the NULL->NULL rewrite"
    deleted = [k for k in got if not live(k)]
    assert deleted == [], f"deleted keys leaked into replica: {deleted[:5]}"
