"""``loaders.read_parquet``: the schema it reads from one footer on
the driver must be exactly the schema Spark's own inference gives,
and resolving a path set must run no Spark job."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from hq_master_data_warehouse_spark.schemas import TEST_TABLES
from hq_master_data_warehouse_spark.sources.loaders import read_parquet

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
