"""Staged inputs and shared intermediates (matcache): atomicity under
concurrent builders, key sensitivity (a regenerated input re-stages),
and build-once semantics."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import threading
from urllib.parse import urlparse

from pyspark.sql import functions as F

from hq_master_data_warehouse_spark.matcache import (
    input_sig,
    materialized,
)
from tests.conftest import SF_DIR_001


def _final_dirs(tag: str) -> list[str]:
    return glob.glob(
        os.path.join(tempfile.gettempdir(), f"hqmdw_mat_{tag}_*")
    )


def _clear(tag: str) -> None:
    for d in glob.glob(
        os.path.join(tempfile.gettempdir(), f"hqmdw_mat_{tag}_*")
    ) + glob.glob(
        os.path.join(tempfile.gettempdir(), f"hqmdw_mat_{tag}_*.tmp*")
    ):
        shutil.rmtree(d, ignore_errors=True)


def test_concurrent_builders_one_table_no_tmp_leftovers(spark):
    """N threads materializing the same key must yield exactly ONE
    complete table, identical content for every reader, and no .tmp
    siblings left behind -- the atomic-rename contract."""
    tag = "pytestcc"
    _clear(tag)
    builds = []

    def build():
        builds.append(1)
        return spark.range(100).select(
            F.col("id").alias("node"),
            (F.col("id") % 7).alias("comp"),
        )

    results = []
    errs = []

    def run():
        try:
            df = materialized(spark, tag, ["k1"], build)
            results.append(
                sorted((r.node, r.comp) for r in df.collect())
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=run) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    want = sorted((i, i % 7) for i in range(100))
    assert all(r == want for r in results)
    finals = _final_dirs(tag)
    assert len(finals) == 1
    assert not glob.glob(finals[0] + ".tmp*")
    _clear(tag)


def test_cache_hit_skips_build_and_key_change_rebuilds(spark):
    tag = "pytesthit"
    _clear(tag)
    n_builds = []

    def build():
        n_builds.append(1)
        return spark.range(10).select(F.col("id").alias("v"))

    materialized(spark, tag, ["a", 1], build)
    materialized(spark, tag, ["a", 1], build)
    assert len(n_builds) == 1  # second call read the parquet
    materialized(spark, tag, ["a", 2], build)
    assert len(n_builds) == 2  # any key part change = new table
    _clear(tag)


def test_input_sig_tracks_mtime(tmp_path):
    p = tmp_path / "t.parquet"
    p.write_bytes(b"x")
    s1 = input_sig(str(p))
    os.utime(p, ns=(1, 1))
    assert input_sig(str(p)) != s1  # regenerated fixture = new key


def test_code_sig_differs_between_builders_and_is_stable():
    """ADVICE r10: the cache key folds in the builder's SOURCE, so a
    logic edit invalidates the table without a tag bump.  Pin the
    primitive: two builders with different bodies hash differently;
    the same builder hashes identically across calls."""
    from hq_master_data_warehouse_spark.matcache import _code_sig

    def build_a():
        return 1

    def build_b():
        return 2

    assert _code_sig(build_a) != _code_sig(build_b)
    assert _code_sig(build_a) == _code_sig(build_a)


def test_failed_rename_reraises_when_no_winner(spark, monkeypatch):
    """ADVICE r10: an os.rename failure is only swallowed when a
    concurrent builder demonstrably won (the final dir exists); a
    genuine failure (EXDEV, permissions) must surface at the rename,
    not as a confusing read error on a missing path."""
    import pytest

    from hq_master_data_warehouse_spark import matcache

    tag = "pytestrename"
    _clear(tag)

    def bad_rename(src, dst):
        raise OSError(18, "Invalid cross-device link")

    monkeypatch.setattr(matcache.os, "rename", bad_rename)
    with pytest.raises(OSError, match="cross-device"):
        matcache.materialized(
            spark,
            tag,
            ["x"],
            lambda: spark.range(3).select(F.col("id").alias("v")),
        )
    _clear(tag)


def test_input_sig_sees_a_part_rewritten_inside_a_dir(tmp_path):
    """A multi-part parquet input is a DIRECTORY: rewriting one part
    in place leaves the directory's own stat unchanged, so the
    signature must fold every data file's name, size and mtime."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x")
    (d / "part-1.parquet").write_bytes(b"y")
    s1 = input_sig(str(d))
    (d / "part-1.parquet").write_bytes(b"yy")
    assert input_sig(str(d)) != s1


def _sf_copy(tmp_path, *tables: str) -> str:
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in tables:
        shutil.copyfile(
            os.path.join(SF_DIR_001, f"{t}.parquet"),
            os.path.join(sf, f"{t}.parquet"),
        )
    return sf


def _staged_dirs(df) -> set[str]:
    """The dirs a staging query's scan reads: its staged table."""
    return {os.path.dirname(urlparse(f).path) for f in df.inputFiles()}


def test_staged_input_follows_a_regenerated_fixture(spark, tmp_path):
    """A fixture regenerated at the same path (orders halved) must be
    re-staged: the stager keys on the input's content identity, not
    on the sf dir's name."""
    import pyarrow.parquet as pq

    from hq_master_data_warehouse_spark.sources.formats import (
        source_csv_roundtrip,
    )

    sf = _sf_copy(tmp_path, "orders", "customer", "nation")
    orders = os.path.join(sf, "orders.parquet")
    n = pq.read_metadata(orders).num_rows
    staged = set()
    try:
        first = source_csv_roundtrip(spark, sf)
        staged |= _staged_dirs(first)
        assert sum(r.n_orders for r in first.collect()) == n
        half = pq.read_table(orders).slice(0, n // 2)
        pq.write_table(half, orders, coerce_timestamps="us")
        second = source_csv_roundtrip(spark, sf)
        staged |= _staged_dirs(second)
        assert sum(r.n_orders for r in second.collect()) == n // 2
    finally:
        for d in staged:
            shutil.rmtree(d, ignore_errors=True)


def test_concurrent_first_calls_share_one_complete_staging(
    spark, tmp_path
):
    """4 threads making the first call of a staging query together
    must all succeed and read exactly the source rows from ONE
    published table: each builder writes its own tmp dir, and the
    losers discard theirs."""
    import pyarrow.parquet as pq

    from hq_master_data_warehouse_spark.sources.formats import (
        source_orc_roundtrip,
    )

    sf = _sf_copy(tmp_path, "orders")
    n = pq.read_metadata(os.path.join(sf, "orders.parquet")).num_rows
    counts, dirs, errs = [], set(), []

    def run():
        try:
            df = source_orc_roundtrip(spark, sf)
            dirs.update(_staged_dirs(df))
            counts.append(sum(r.n_orders for r in df.collect()))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    try:
        assert not errs
        assert counts == [n] * 4
        assert len(dirs) == 1
        assert not glob.glob(next(iter(dirs)) + ".tmp*")
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
