"""r14 pins for the session/loader optimization helpers:

- plan memo invalidation on an in-place regenerated fixture
  (VERDICT r13 item 5: the memo key folds in the table dir's
  mtime/size identity, so one long-lived session observes fresh data
  instead of a stale file index);
- local_df's VALUES fast path refuses parameterized/nested DDL
  (ADVICE r13: a comma inside 'decimal(10,2)' would split the column
  list) and falls back to createDataFrame with correct values;
- the winnowing canonicalization stays OUTSIDE the per-window
  transform lambda (ADVICE r13: the r13 O(len^2) fix rides on
  CollapseProject's non-cheap-expression heuristic; this pin fails
  loudly if a Spark upgrade collapses the child projection back).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from hq_master_data_warehouse_spark.registry import QUERIES, load_catalog
from hq_master_data_warehouse_spark.session import local_df
from hq_master_data_warehouse_spark.sources.loaders import load_table
from tests.conftest import SF_DIR_001


def test_plan_memo_sees_inplace_fixture_regeneration(spark, tmp_path):
    d = str(tmp_path / "sfX")
    os.makedirs(d)
    src = os.path.join(SF_DIR_001, "region.parquet")
    dst = os.path.join(d, "region.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy(src, dst)
    first = load_table(spark, d, "region").count()
    assert first > 0
    # regenerate IN PLACE inside the same session (new bytes, same
    # path) -- the old key must not serve the stale file index
    spark.range(2).selectExpr(
        "id AS r_regionkey",
        "CAST(id AS STRING) AS r_name",
        "'x' AS r_comment",
    ).write.mode("overwrite").parquet(os.path.join(d, "region.parquet"))
    assert load_table(spark, d, "region").count() == 2


def test_plan_memo_returns_same_plan_for_unchanged_fixture(spark):
    a = load_table(spark, SF_DIR_001, "region")
    b = load_table(spark, SF_DIR_001, "region")
    assert a is b  # memo hit: same unexecuted plan object


def test_local_df_parameterized_ddl_falls_back_correctly(spark):
    from decimal import Decimal

    rows = [("a", Decimal("1.25")), ("b", Decimal("2.50"))]
    df = local_df(spark, rows, "k string, v decimal(10,2)")
    got = {(r.k, str(r.v)) for r in df.collect()}
    assert got == {("a", "1.25"), ("b", "2.50")}
    assert dict(df.dtypes)["v"] == "decimal(10,2)"


def test_winnowing_canon_stays_outside_window_lambda(spark):
    load_catalog()
    df = QUERIES["text_winnowing_fingerprint"](spark, SF_DIR_001)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the per-window lambda (md5 over substr) must reference the
    # materialized canon attribute, never the regex pipeline itself --
    # a line carrying both re-evaluates canonicalization per window
    # position, O(len^2) per document (r13 sweep: 19.8 s -> 0.5 s)
    for line in plan.split("\n"):
        if "md5(" in line:
            assert "regexp_replace" not in line, line


def test_default_cores_follow_the_process_affinity():
    """Without SPARK_GRAFT_CPUS the local master and shuffle width are
    the cores this process may run on, not a fixed count."""
    import subprocess
    import sys

    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import os; from hq_master_data_warehouse_spark import session"
            " as s; print(s.CPUS, s.DEFAULT_SHUFFLE_PARTITIONS,"
            " len(os.sched_getaffinity(0)))",
        ],
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert out[0] == out[1] == out[2]
