"""``loaders.read_parquet``: the schema it reads from one footer on
the driver must be exactly the schema Spark's own inference gives,
and resolving a path set must run no Spark job.  ``footer_stats``:
the row count and integer ranges it sums over every footer must equal
an aggregate read-back.  ``AppPlanMemo``: the scan memo behind
``load_table`` and the txn-log reads."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark.errors import AnalysisException

from hq_master_data_warehouse_spark.schemas import TEST_TABLES
from hq_master_data_warehouse_spark.sources import loaders, txn_log
from hq_master_data_warehouse_spark.sources.loaders import (
    AppPlanMemo,
    footer_stats,
    load_table,
    read_parquet,
)

SF = "/root/testdata/sf0.001"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _last_job_id(spark) -> int:
    # jobsList is newest first
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def _same_as_spark(spark, *paths):
    """read_parquet's schema equals spark.read.parquet's and costs no
    job; returns the read_parquet DataFrame."""
    want = spark.read.parquet(*paths).schema
    before = _last_job_id(spark)
    got = read_parquet(spark, *paths)
    assert _last_job_id(spark) == before, "read_parquet ran a Spark job"
    assert got.schema == want
    return got


@pytest.mark.parametrize("table", TEST_TABLES)
def test_fixture_tables_match_spark_inference(spark, table):
    path = f"{SF}/{table}.parquet"
    if table != "events":
        _same_as_spark(spark, path)
        return
    # events.ts may be TIMESTAMP(NANOS): both reader settings must give
    # Spark's answer, whether that is a schema or an error
    old = spark.conf.get(NANOS, "false")
    try:
        for nanos in ("true", "false"):
            spark.conf.set(NANOS, nanos)
            try:
                spark.read.parquet(path).schema
            except AnalysisException as e:
                with pytest.raises(AnalysisException) as got:
                    read_parquet(spark, path).schema
                assert got.value.getCondition() == e.getCondition()
                continue
            _same_as_spark(spark, path)
    finally:
        spark.conf.set(NANOS, old)


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    """A Spark-written dir with non-nullable (and nested) columns, the
    same rows partitioned by ``_b``, and a symlink to a single file."""
    root = tmp_path_factory.mktemp("read_parquet")
    df = spark.range(60).selectExpr(
        "id",
        "CAST(id AS STRING) AS s",
        "named_struct('x', id, 'y', array(id)) AS st",
        "id % 3 AS _b",
    )
    assert not df.schema["id"].nullable
    df.write.parquet(str(root / "plain"))
    df.write.partitionBy("_b").parquet(str(root / "part"))
    os.symlink(f"{SF}/nation.parquet", root / "nation.parquet")
    (root / "empty").mkdir()
    return root


def test_non_nullable_columns(spark, written):
    _same_as_spark(spark, str(written / "plain"))


def test_partitioned_root_keeps_its_partition_column(spark, written):
    got = _same_as_spark(spark, str(written / "part"))
    assert got.columns[-1] == "_b"
    assert got.count() == 60


def test_multi_path_bucket_children(spark, written):
    paths = [str(written / "part" / f"_b={b}") for b in (0, 2)]
    got = _same_as_spark(spark, *paths)
    assert "_b" not in got.columns
    assert got.count() == 40


def test_single_file_through_a_symlink(spark, written):
    _same_as_spark(spark, str(written / "nation.parquet"))


def test_empty_dir_raises_sparks_error(spark, written):
    path = str(written / "empty")
    with pytest.raises(AnalysisException) as want:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as got:
        read_parquet(spark, path)
    assert got.value.getCondition() == want.value.getCondition()
    assert want.value.getCondition() == "UNABLE_TO_INFER_SCHEMA"


def _assert_footers_equal_read_back(spark, path, df):
    """footer_stats(path) equals agg(count, min, max) over ``df`` on
    every integer column of ``df`` and starts no Spark job."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegralType

    ints = [f.name for f in df.schema if isinstance(f.dataType, IntegralType)]
    before = _last_job_id(spark)
    got = footer_stats(spark, path)
    assert _last_job_id(spark) == before, "footer_stats ran a Spark job"
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.min(c).alias(f"lo_{c}") for c in ints],
        *[F.max(c).alias(f"hi_{c}") for c in ints],
    ).collect()[0]
    assert got.rows == row["n"]
    assert got.ranges == {c: (row[f"lo_{c}"], row[f"hi_{c}"]) for c in ints}


@pytest.mark.parametrize("table", [t for t in TEST_TABLES if t != "events"])
def test_footer_stats_equal_read_back_on_fixtures(spark, table):
    path = f"{SF}/{table}.parquet"
    _assert_footers_equal_read_back(spark, path, read_parquet(spark, path))


def test_footer_stats_equal_read_back_on_events(spark):
    # timestamps are INT64 in Parquet but not integers to Spark
    path = f"{SF}/events.parquet"
    _assert_footers_equal_read_back(spark, path, load_table(spark, SF, "events"))


def test_footer_stats_on_bucketed_write(spark, tmp_path):
    """Each ``_b=N`` dir of a bucketed txn-log write: footers equal the
    read-back and the zone maps ``_write_bucketed`` logged; the
    partition column is not in the footers."""
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    adds = txn_log._write_bucketed(orders, str(tmp_path), "data")
    assert len(adds) > 1
    for add in adds:
        path = str(tmp_path / add["path"])
        _assert_footers_equal_read_back(spark, path, read_parquet(spark, path))
        assert footer_stats(spark, path).ranges["o_orderkey"] == (
            add["min_key"],
            add["max_key"],
        )
    assert "_b" not in footer_stats(spark, str(tmp_path / "data")).ranges


def test_footer_stats_without_statistics(spark, tmp_path):
    """A file written without column statistics reports its rows and
    no ranges, and ``_write_file`` then takes its zone map from a
    read-back aggregate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "nostats.parquet"
    pq.write_table(
        pa.table({"k": pa.array([5, 3, 9], pa.int64()), "v": pa.array([1, 2, 3], pa.int32())}),
        path,
        write_statistics=False,
    )
    assert footer_stats(spark, str(path)) == (3, {})

    key = "parquet.column.statistics.enabled"
    spark.conf.set(key, "false")
    try:
        df = spark.range(10, 20).selectExpr("id * 7 AS o_orderkey")
        info = txn_log._write_file(df, str(tmp_path), "f0")
    finally:
        spark.conf.unset(key)
    written = str(tmp_path / "f0")
    assert "o_orderkey" not in footer_stats(spark, written).ranges
    assert footer_stats(spark, written).rows == 10
    assert (info["min_key"], info["max_key"]) == (70, 133)


def _app(app_id):
    """Stand-in session: the memo reads only the application id."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_app_plan_memo_serves_clears_and_evicts():
    memo, built = AppPlanMemo(cap=2), []

    def get(spark, key):
        return memo.get(spark, key, lambda: built.append(key) or object())

    one, two = _app("app-1"), _app("app-2")
    first = get(one, "x")
    assert get(one, "x") is first  # served again within one app
    get(one, "y")
    get(one, "z")  # past the cap: the oldest entry, "x", goes
    get(one, "y")
    get(one, "z")
    assert built == ["x", "y", "z"]
    assert get(one, "x") is not first
    assert built == ["x", "y", "z", "x"]
    get(two, "x")  # a new application empties the memo
    get(one, "x")
    assert built == ["x", "y", "z", "x", "x", "x"]


def test_engine_scans_share_the_memo(spark, written):
    assert (loaders._PLAN_MEMO.cap, txn_log._SCAN_MEMO.cap) == (256, 64)
    nation = load_table(spark, SF, "nation")
    assert load_table(spark, SF, "nation") is nation
    assert load_table(spark, SF, "nation", fresh=True) is not nation
    paths = [str(written / "part" / f"_b={b}") for b in (0, 2)]
    scan = txn_log._scan_paths(spark, paths)
    assert txn_log._scan_paths(spark, paths[::-1]) is scan
