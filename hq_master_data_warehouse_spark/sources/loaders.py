"""Parquet table loaders for the driver test fixtures.

Scans are declarative (``spark.read.parquet``) so Catalyst gets free
predicate pushdown, column pruning, and partition pruning -- the Spark
equivalent of the reference pushing filters into PostgREST querystrings
(SURVEY.md par.4.1).  Maps to SURVEY ops S1-S4.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TEST_TABLES

# Plan memo: (sf_dir, name, input-identity) -> unexecuted DataFrame,
# for the CURRENT application only (cleared whenever applicationId
# changes -- ADVICE r13: a process cycling SparkSessions must not pin
# plans/py4j refs of a stopped JVM).
# ``spark.read.parquet`` re-lists the directory and re-reads footers
# for the schema on EVERY call -- ~0.1 s of driver time per call even
# warm, and a bench pass issues ~80 of them (r13 measurement).  The
# fixture tables are immutable test data (no engine path writes into
# an sf_dir), so re-resolving the same path in the same application
# only repeats metadata work; this memo is the path-API equivalent of
# a catalog table's file-index cache (optimization guide par.6 --
# avoid repeated listings), NOT result caching: the stored object is
# a logical plan + file index, and every action still computes from
# the parquet files.  The key additionally folds in the table
# directory's (mtime_ns, size) identity -- matcache.input_sig's
# device (VERDICT r13 item 5) -- so an in-place regenerated fixture
# inside one long-lived session is re-resolved instead of served the
# stale file index; entries are capped FIFO as a growth backstop.
#
# SELF-JOIN CAVEAT (ADVICE r13): the memo returns the SAME Dataset
# object to every caller, so two load_table results of one table
# share expression IDs.  Plain self-joins on key NAMES are fine
# (Dataset.join de-duplicates attribute references), but column-
# object conditions (df1["k"] == df2["k"]) or cogroup over two hits
# trip Spark's ambiguous-self-join detection -- pass ``fresh=True``
# for independent lineage (the exact_cosine_pairs cogroup does).
_PLAN_MEMO: dict[tuple[str, str, str], DataFrame] = {}
_MEMO_APP: list[str] = [""]
_MEMO_CAP = 256


def _dir_sig(path: str) -> str:
    """Input identity of a fixture table dir: mtime_ns + size (the
    matcache.input_sig device).  Non-local / missing paths fall back
    to path-only keying (the memo's original contract).

    Known gap: only the directory itself is stat'ed.  Spark's
    overwrite deletes and recreates the directory, which changes the
    signature, but a part file rewritten IN PLACE under the same name
    changes neither the directory's mtime nor its size, so a
    long-lived session keeps being served the memoized file index
    (stale footers / row counts) for that table.  Folding the entries'
    mtimes into the key would mean listing the directory on every
    ``load_table`` -- the very cost the memo exists to avoid -- so
    writers that rewrite part files in place must call with
    ``fresh=True`` or use a new directory."""
    try:
        st = os.stat(path)
        return f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        return ""


def _memo_for_app(spark: SparkSession) -> dict:
    app = spark.sparkContext.applicationId
    if app != _MEMO_APP[0]:
        _PLAN_MEMO.clear()
        _MEMO_APP[0] = app
    return _PLAN_MEMO


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fresh: bool = False
) -> DataFrame:
    """Scan one fixture table (S1: full scan + project-all).

    ``fresh=True`` bypasses the plan memo and returns a scan with its
    own expression IDs -- required by the few call sites that feed the
    SAME table to both inputs of a cogroup (Spark's self-cogroup
    ambiguity check rejects shared lineage; plain self-JOINs are fine
    because Dataset.join de-duplicates attribute references).  See the
    memo's SELF-JOIN CAVEAT above before adding column-object-keyed
    self-joins over memoized scans.

    Column pruning / filter pushdown happen automatically once callers
    ``.select``/``.filter`` -- never pre-collect or pre-materialize here.

    ``events.ts`` has shipped as either Parquet TIMESTAMP(NANOS) --
    which Spark's vectorized reader rejects (PARQUET_TYPE_ILLEGAL) and
    must be read as nanos-since-epoch via the nanosAsLong fallback --
    or as a plain TIMESTAMP(MICROS).  Normalize both to a microsecond
    TimestampType so downstream operators and the DuckDB oracle observe
    identical event times regardless of fixture vintage.
    """
    path = f"{sf_dir}/{name}.parquet"
    memo = _memo_for_app(spark)
    key = (sf_dir, name, _dir_sig(path))
    if not fresh:
        hit = memo.get(key)
        if hit is not None:
            return hit
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = normalize_event_ts(spark.read.parquet(path))
    else:
        df = spark.read.parquet(path)
    if not fresh:
        memo[key] = df
        while len(memo) > _MEMO_CAP:
            memo.pop(next(iter(memo)))
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Coerce ``ts`` to TimestampType whether it arrived as nanos-epoch
    BIGINT (legacy nanosAsLong read) or a native timestamp column."""
    dtype = dict(df.dtypes).get("ts")
    if dtype in ("bigint", "long"):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dtype != "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All ten fixture tables as lazily-planned DataFrames."""
    return {t: load_table(spark, sf_dir, t) for t in TEST_TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every fixture as a SQL temp view so each operator is also
    reachable from ``spark.sql`` (SQL parity, SURVEY.md par.1.4)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
