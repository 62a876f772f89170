"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design target (AQE on, adaptive
coalescing + skew-join handling, Arrow for any pandas interchange) while
remaining correct on ``local[*]`` test runs.  Tests and bench pass an
explicit master/parallelism; a production deployment would submit with
its own cluster master and leave these settings intact.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: local cores: SPARK_GRAFT_CPUS, else the cores this process may run on
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# Keep shuffle partitions aligned with local core count during tests;
# on a real cluster this is superseded by AQE coalescing anyway.
DEFAULT_SHUFFLE_PARTITIONS = CPUS


def get_spark(
    app_name: str = "hq-master-data-warehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    AQE handles runtime re-planning (partition coalescing, skew joins,
    broadcast conversion) -- the engine relies on it instead of
    hand-tuning per-query parallelism, per SURVEY.md par.4.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Parallel partition discovery defaults to ONE LISTING TASK
        # PER ROOT PATH (cap 10000): a txn-log snapshot read that
        # passes ~3k bucket dirs spent 4-6 s scheduling 3k near-empty
        # listing tasks per read at sf1 (r10 measurement: read+count
        # 6.9 s -> 1.6 s with the cap).  Listing throughput saturates
        # at a small multiple of core count; on a larger cluster the
        # submitter can raise it, but task count should never equal
        # file count.
        "spark.sql.sources.parallelPartitionDiscovery.parallelism":
            str(4 * (shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)),
        # The generated-class cache defaults to 100 entries; a session
        # running many distinct plans (this engine's workload profile)
        # cycles past that and re-compiles stages on every revisit --
        # measured +1.2 s per PageRank pass when 10 other queries run
        # in between (4.6/3.7/3.3 s vs 3.5/2.4/2.2 s with the larger
        # cache).  Generated classes are ~KBs each; 2000 is cheap.
        "spark.sql.codegen.cache.maxEntries": "2000",
        # Timestamps in testdata are naive; keep session TZ stable so
        # results are deterministic regardless of host TZ.
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def sql_string(v: str) -> str:
    """``v`` as a Spark SQL string literal (default parser: backslash
    escapes), for values spliced into ``selectExpr``/``F.expr``."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def local_df(spark: SparkSession, rows, ddl: str):
    """Tiny driver-side row list as a pure-JVM LocalRelation.

    ``spark.createDataFrame(list_of_tuples)`` routes local data
    through the pickled-Python-RDD path: it parallelizes the rows
    into defaultParallelism partitions, and every action spins up one
    Python worker PER PARTITION just to rebuild a few hundred
    constants -- measured in r13 as a 32-task stage with ~7 s of task
    time and 72 ms of CPU per bench rep (python worker startup), on
    every query that broadcasts a small driver-built dimension.
    Rendering the rows as a SQL ``VALUES`` literal instead plans as a
    LocalTableScan: no Python workers, no parallelize job, and the
    broadcast build reads in-memory JVM rows.

    Supports str/bool/int/float/None cells (the engine's dimension
    tables); falls back to ``createDataFrame`` for anything else or
    for large lists, where VALUES parse time would dominate.
    """
    rows = list(rows)

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return repr(v)
        if isinstance(v, float):
            # repr of the PLAIN float is shortest-roundtrip (float(v)
            # also normalizes np.float64, whose repr is not a SQL
            # literal); the cast below restores DOUBLE -- plain
            # decimal literals parse as DECIMAL in Spark SQL
            return f"CAST('{float(v)!r}' AS DOUBLE)"
        if isinstance(v, str):
            return sql_string(v)
        raise TypeError(type(v))

    # Parameterized/nested types ('decimal(10,2)', 'map<string,int>')
    # carry commas/brackets that the naive split would mis-parse into
    # wrong SQL (ADVICE r13) -- fall back to createDataFrame for them;
    # the fast path only ever targets scalar dimension tables.
    if "(" in ddl or "<" in ddl or not rows or len(rows) > 10_000:
        return spark.createDataFrame(rows, ddl)
    cols = [c.strip().rsplit(None, 1) for c in ddl.split(",")]
    try:
        vals = ", ".join(
            "(" + ", ".join(lit(v) for v in r) + ")" for r in rows
        )
    except TypeError:
        return spark.createDataFrame(rows, ddl)
    proj = ", ".join(
        f"CAST(c{i} AS {typ}) AS {name}"
        for i, (name, typ) in enumerate(cols)
    )
    names = ", ".join(f"c{i}" for i in range(len(cols)))
    return spark.sql(
        f"SELECT {proj} FROM (VALUES {vals}) AS t({names})"
    )


def fan_out_scan(df):
    """Scale-adaptive fan-out for CPU-heavy per-row work fed by a
    scan: repartition to defaultParallelism ONLY when the plan's
    current partitioning is narrower than the core count.

    The driver fixtures ship one parquet file per table, so a scan
    yields 1-3 input splits and any expensive per-row stage
    (tokenize+hash pipelines) serializes on as many cores (measured:
    dedup_exact_substring ran its whole span pipeline on ONE task).
    On production inputs the scan already has >= cores splits and
    this is a NO-OP -- the condition, not a constant, carries the
    scale story: an unconditional repartition would re-shuffle the
    whole corpus once for nothing on a real cluster (optimization
    guide par.2.5 "input skew: one huge unsplittable file ...
    repartition immediately after the read").

    Call it on the NARROWEST projection that feeds the expensive
    work, so the exchange (when it fires at all) moves only needed
    columns.  Only for order-independent downstream computation.

    The split estimate uses inputFiles() + a driver-side stat
    (microseconds) rather than df.rdd.getNumPartitions(), which
    triggers a full physical-planning pass (~0.2 s per call).
    """
    if not _scan_split_starved(df):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _scan_split_starved(df) -> bool:
    """True when df's scan yields fewer input splits than cores --
    the shared condition behind both fan-out helpers.  Split-size
    estimate reads the session's actual scan split size (ADVICE r13:
    a hardcoded 128 MiB underestimates splits when the session
    configures a smaller maxPartitionBytes and fires a needless
    full-input shuffle)."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= cores:
        return False
    raw = (
        df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes",
            str(128 * 1024 * 1024),
        )
        .strip()
        .lower()
        .removesuffix("b")
    )
    units = {"k": 1024, "m": 1024**2, "g": 1024**3}
    try:
        if raw and raw[-1] in units:
            mpb = int(raw[:-1]) * units[raw[-1]]
        else:
            mpb = int(raw)
    except ValueError:
        mpb = 128 * 1024 * 1024
    splits = 0
    for uri in files:
        path = uri[7:] if uri.startswith("file://") else uri
        try:
            size = os.path.getsize(path)
        except OSError:
            return False  # non-local storage: trust the file count
        splits += max(1, -(-size // mpb))
        if splits >= cores:
            return False
    return True


def one_split(df):
    """``df`` coalesced to one partition when Spark plans its scan as
    exactly one input split; otherwise ``df`` unchanged.

    A one-partition child has ``SinglePartition`` partitioning, which
    meets any window's or aggregate's required distribution, so the
    plan above it runs as one task with no exchange -- where a keyed
    window over a one-split scan otherwise shuffles a few hundred rows
    into ``spark.sql.shuffle.partitions`` tasks and runs as several
    jobs.  The count is Spark's own (``toRdd`` of the scan: ~20 ms of
    planning), not a size estimate: Spark splits one file above the
    4 MB open cost by bytes per core, so a size-based guess would
    serialize a large single-file input.  Inputs of two or more splits
    plan exactly as without this call."""
    if df._jdf.queryExecution().toRdd().getNumPartitions() != 1:
        return df
    return df.coalesce(1)


def fan_out_keyed(df, *keys):
    """``fan_out_scan``'s sibling for CPU-dense KEYED window/group
    stages: pre-partition by the window keys to core count, but only
    under the same split-starvation condition.

    Why it exists (r14): a window over a byte-small but CPU-dense
    shuffle gets AQE-coalesced down to a handful of tasks -- AQE
    sizes post-shuffle partitions by BYTES and cannot see per-row
    expression cost (measured: the 8-lag EWMA window ran on 3 tasks
    at sf0.1).  An explicit ``repartition(cores, keys)`` satisfies
    the window's required distribution (no second exchange) and AQE
    respects user-specified partition counts.  The fan_out_scan
    condition keeps it scale-honest: on production inputs the scan
    fans out, the condition is false, and AQE's byte-based sizing --
    correct at real volumes -- stays in charge.  Only for
    per-key-independent downstream computation (the repartition
    changes which task holds a key, never a key's row set)."""
    if not _scan_split_starved(df):
        return df
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, *keys
    )


def get_test_spark() -> SparkSession:
    """Session for pytest / local iteration: local[N] single JVM."""
    return get_spark(master=f"local[{CPUS}]")
