"""Parquet table loaders for the driver test fixtures.

Scans are declarative (``spark.read.parquet``) so Catalyst gets free
predicate pushdown, column pruning, and partition pruning -- the Spark
equivalent of the reference pushing filters into PostgREST querystrings
(SURVEY.md par.4.1).  Maps to SURVEY ops S1-S4.

Every engine Parquet scan goes through :func:`read_parquet`, which
reads the schema from one footer on the driver instead of letting
Spark run its one-task schema-inference job per new path set.
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TEST_TABLES

_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."

# Names Spark's file index skips (InMemoryFileIndex's
# shouldFilterOutPathName): hidden ``_``/``.`` entries, except
# ``_k=v`` partition directories.  Hadoop globs return sorted matches.
_DATA_GLOB = "{[!._]*,_*=*}"


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job.

    On a path set the session has not resolved before, Spark infers
    the schema with a one-task Spark job that reads ONE footer -- the
    first data file's, since without ``mergeSchema`` it assumes all
    files agree.  Parquet is self-describing, so this reads that same
    footer on the driver instead: find the first data file of the
    first path through the Hadoop ``FileSystem`` (skipping ``_``/``.``
    names, descending into partition directories in sorted order; a
    file path is used as is), convert its footer with Spark's own
    ``ParquetFileFormat.readSchemaFromFooter`` and a converter built
    from the session conf (so ``nanosAsLong`` and the other reader
    confs apply), and hand the result to ``spark.read.schema``.
    Partition columns are still discovered from the paths.  Summary
    files (``_metadata``) are not consulted; Spark has not written
    them by default since 2.x.

    Falls back to plain ``spark.read.parquet`` -- Spark's own
    inference and its errors, e.g. UNABLE_TO_INFER_SCHEMA for an empty
    directory -- when ``spark.sql.parquet.mergeSchema`` is on, when no
    data file is found, or when the footer cannot be read.
    """
    merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false")
    schema = None
    if paths and merge.strip().lower() != "true":
        schema = _footer_schema(spark, paths[0])
    if schema is None:
        return spark.read.parquet(*paths)
    jpaths = spark.sparkContext._jvm.PythonUtils.toSeq(list(paths))
    jdf = spark._jsparkSession.read().schema(schema).parquet(jpaths)
    return DataFrame(jdf, spark)


def _footer_schema(spark: SparkSession, path: str):
    """The JVM ``StructType`` Spark's non-merging inference would give
    for ``path``, read on the driver; None when there is no data file
    or it cannot be read."""
    client = spark.sparkContext._gateway._gateway_client

    def jclass(name: str) -> JavaClass:
        return JavaClass(name, client)

    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    try:
        root = jclass("org.apache.hadoop.fs.Path")(path)
        fs = root.getFileSystem(conf)
        status = _first_data_file(fs, fs.getFileStatus(root), jclass)
        if status is None:
            return None
        footer_reader = jclass(_PARQUET + "ParquetFooterReader")
        input_file = jclass("org.apache.parquet.hadoop.util.HadoopInputFile")
        no_row_groups = jclass(
            "org.apache.parquet.format.converter.ParquetMetadataConverter"
        ).SKIP_ROW_GROUPS
        meta = footer_reader.readFooter(
            input_file.fromStatus(status, conf), no_row_groups
        )
        footer = jclass("org.apache.parquet.hadoop.Footer")(
            status.getPath(), meta
        )
        converter = jclass(_PARQUET + "ParquetToSparkSchemaConverter")(
            state.conf()
        )
        return jclass(_PARQUET + "ParquetFileFormat").readSchemaFromFooter(
            footer, converter
        )
    except Py4JJavaError:
        return None


def _first_data_file(fs, status, jclass):
    """Depth-first, name-sorted search for the first data file under
    ``status`` (itself, when it is a file)."""
    if not status.isDirectory():
        return status
    pattern = jclass("org.apache.hadoop.fs.Path")(status.getPath(), _DATA_GLOB)
    for child in fs.globStatus(pattern) or []:
        if child.isDirectory():
            found = _first_data_file(fs, child, jclass)
            if found is not None:
                return found
        elif not child.getPath().getName().endswith("._COPYING_"):
            return child
    return None


# Plan memo: (sf_dir, name, input-identity) -> unexecuted DataFrame,
# for the CURRENT application only (cleared whenever applicationId
# changes -- ADVICE r13: a process cycling SparkSessions must not pin
# plans/py4j refs of a stopped JVM).
# Resolving a path re-lists the directory and builds a new file index
# on EVERY call: ~15-25 ms of driver time even with the schema read
# from one footer on the driver (``read_parquet``), and a bench pass
# issues ~80 of them.  The fixture tables are immutable test data (no engine
# path writes into an sf_dir), so re-resolving the same path in the same application
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
    """The plan memo of the current application.

    Assumes ONE live application per process: the memo is a single
    slot, emptied whenever ``applicationId`` changes.  A process that
    alternates ``load_table`` calls between two live sessions of
    different applications empties it on every switch and re-resolves
    every path -- slower, never wrong (a miss just re-reads)."""
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
        df = normalize_event_ts(read_parquet(spark, path))
    else:
        df = read_parquet(spark, path)
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
