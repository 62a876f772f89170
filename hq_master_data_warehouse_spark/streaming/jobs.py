"""Streaming-shaped behavior (SURVEY ops T1-T5 + par.2.9 surface:
watermarks, tumbling/sliding/session event-time windows).

The reference's ingest webhook is an unbounded sequence of JSON POSTs
(clay-webhook/index.ts:28,47-50) -- Structured Streaming territory.
Every event-time operator below exists in BOTH forms:

* batch form (registered, oracle-checked): same window expression over
  the parquet ``events`` table -- DuckDB oracles via time_bucket /
  gaps-and-islands SQL;
* streaming form (registered, oracle-checked since r9 wherever the
  drain is deterministic): the identical plan under ``readStream``
  with a watermark, drained with availableNow into a memory sink and
  hash-compared against the batch twin's SQL.  Batch/stream parity is
  additionally asserted in pytest.

At 100 TB-scale streaming, state lives in the state store keyed by
(window, group); the watermark bounds state size -- late rows beyond
1 hour are dropped, matching the audit-don't-retry posture of the
reference (T2, clay-webhook/index.ts:115-125).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..matcache import staged, table_sig
from ..registry import query
from ..sources.loaders import load_table, normalize_event_ts, read_parquet

_EVENTS_NS = "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events"


# -- tumbling 1-hour counts (T1 analytic surface).
@query(
    "events_tumbling_window",
    oracle=f"""
    WITH e AS ({_EVENTS_NS})
    SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP)
               AS window_start,
           event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
    FROM e
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(30,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


# -- sliding 1-hour window, 30-minute slide: each event lands in
#    exactly two windows.
@query(
    "events_sliding_window",
    oracle=f"""
    WITH e AS ({_EVENTS_NS}),
    expanded AS (
        SELECT unnest([
            CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP),
            CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP)
                - INTERVAL '30 minutes'
        ]) AS window_start
        FROM e
    )
    SELECT window_start, COUNT(*) AS cnt
    FROM expanded
    GROUP BY window_start
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "cnt")
    )


# -- session windows, 10-minute gap: batch oracle is the classic
#    gaps-and-islands rewrite (new session when gap > 10 min;
#    session_end = last event + gap, matching Spark's session_window).
#    Shared by the batch query and its streaming twin below: session
#    windows are EVENT-time derived, so the drained availableNow
#    complete-mode result is the same deterministic table.
_SESSION_SQL = f"""
    WITH e AS ({_EVENTS_NS}),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        -- event_id tiebreak matches the lag step's order so duplicate
        -- (user_id, ts) rows sessionize deterministically
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           COUNT(*) AS event_cnt
    FROM sessions
    GROUP BY user_id, session_id
    """


@query("events_session_window", oracle=_SESSION_SQL)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "10 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("event_cnt"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "event_cnt",
        )
    )


# ---------------------------------------------------------------------------
# True Structured Streaming.  Evidence model (VERDICT r8 item 1): a
# streaming query whose availableNow drain is DETERMINISTIC -- the
# result depends only on event time and key values, never on arrival
# order or batch boundaries -- registers its batch twin's SQL as a
# value-level oracle; the driver then hash-compares the drained table
# against DuckDB like any batch query.  Only drains whose emitted ROWS
# are arrival-order-dependent (dropDuplicatesWithinWatermark picking a
# survivor ts) stay rows-only with the sanctioned parity pytest.
# ---------------------------------------------------------------------------


def _events_raw_schema_ddl(spark: SparkSession, sf_dir: str) -> str:
    """DDL for the events fixture AS PHYSICALLY STORED.

    ``events.ts`` has shipped as either TIMESTAMP(NANOS) -- readable
    only via the nanosAsLong fallback, surfacing as BIGINT -- or plain
    TIMESTAMP(MICROS).  readStream needs an explicit schema, and that
    schema must match the physical type, so probe it with a zero-row
    batch read (schema-only: no data is scanned) instead of hard-coding
    one vintage.  ``normalize_event_ts`` then coerces either shape to
    TimestampType, the SAME normalization the batch loader uses -- one
    code path, batch/stream parity by construction.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = read_parquet(spark, f"{sf_dir}/events.parquet")
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in raw.schema.fields
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an unbounded source (T1).  File-drop source in
    tests; Kafka in production -- the downstream plan is identical."""
    raw_schema = _events_raw_schema_ddl(spark, sf_dir)
    return normalize_event_ts(
        spark.readStream.schema(raw_schema).parquet(_drop_box(sf_dir))
    )


def _drop_box(sf_dir: str, copies: int = 1) -> str:
    """events.parquet staged as a file-stream drop box (the file source
    lists a DIRECTORY, T1): ``copies`` copies of every data file, flat
    -- the source lists the box non-recursively, and the derived sf1 is
    a parquet DIRECTORY, not a single file.  Staged once per input
    snapshot (``matcache.staged``): a regenerated fixture gets a fresh
    box, and a concurrent stager never touches a published one."""
    src = f"{sf_dir}/events.parquet"
    parts = [src]
    if os.path.isdir(src):
        parts = [
            f"{src}/{n}"
            for n in sorted(os.listdir(src))
            if n.endswith(".parquet")
        ]
    if copies > 1 and len(parts) > 1:
        # the multi-copy sinks read one copy per micro-batch
        # (maxFilesPerTrigger=1), which needs a single-file feed
        raise ValueError(f"{src}: a {copies}-copy drop box needs one file")

    def build_into(tmp: str) -> None:
        os.makedirs(tmp)
        for c in range(copies):
            for i, part in enumerate(parts):
                shutil.copyfile(part, f"{tmp}/part-{c}-{i:05d}.parquet")

    return staged(
        "events_box", [table_sig(sf_dir, "events"), copies], build_into
    )


def _drain_to_memory(stream_df: DataFrame, mode: str = "complete") -> DataFrame:
    """Run an availableNow trigger to completion into a memory sink and
    return the materialized result table.

    Append-mode drains assert the SINGLE-DATA-BATCH assumption
    (ADVICE r9): the batch twins oracling the watermarked append-mode
    plans (stream-stream join, dedup-by-key) are only valid because
    the whole drop box arrives in one micro-batch -- if a source
    limit (maxFilesPerTrigger) or split staging ever spreads the data
    across batches, watermark eviction between batches would make the
    emitted set diverge from the batch oracle SILENTLY.  This turns
    that future footgun into a loud failure at drain time."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if mode == "append":
        data_batches = sum(
            1
            for p in q.recentProgress
            if p and p.get("numInputRows", 0) > 0
        )
        if data_batches > 1:
            raise RuntimeError(
                f"append-mode drain saw {data_batches} data "
                "micro-batches; the batch-twin oracle contract "
                "requires all input in ONE batch (did a source "
                "trigger limit or split staging sneak in?)"
            )
    return stream_df.sparkSession.table(name)


@query(
    "streaming_tumbling_counts",
    oracle=f"""
    WITH e AS ({_EVENTS_NS})
    SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP)
               AS window_start,
           event_type,
           COUNT(*) AS cnt
    FROM e
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: watermarked tumbling-window counts computed BY THE STREAMING
    ENGINE (state store + availableNow), not a batch rewrite.

    Oracle = the batch twin's (events_tumbling_window) count columns:
    complete-mode output over event-time windows is deterministic --
    window membership depends only on ts, and no row is late-dropped
    because the watermark only advances AFTER a batch completes."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )
    return _drain_to_memory(agg, "complete")


@query(
    "streaming_dedup_by_key",
    oracle="SELECT DISTINCT user_id FROM events",
)
def streaming_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 streaming twin: exactly-once-per-key via dropDuplicates with
    a watermark (state-bounded keyed dedup).

    Oracle-safe because only the KEY column is emitted: WHICH arrival
    survives is order-dependent, but the projected key set is exactly
    DISTINCT user_id regardless of order."""
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id"])
        .select("user_id")
    )
    return _drain_to_memory(deduped, "append")


# rows-only BY NATURE (the one streaming op that stays so): the op
# emits the SURVIVING row's ts, and which duplicate within the
# watermark delay survives is arrival-order-dependent -- no SQL can
# reproduce the row set.  Evidence = the bounds/coverage pytest
# (test_streaming.py::test_dedup_within_watermark_bounds_and_coverage).
@query("streaming_dedup_within_watermark")
def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T4 variant for at-least-once upstreams: collapse REDELIVERIES of
    the same (user_id, event_type) arriving within the watermark delay
    of each other, while legitimately repeated events further apart
    both survive.  ``dropDuplicatesWithinWatermark`` keys state on the
    dedup columns and expires it by event time, so state is bounded by
    (keys active per delay window), not by total history -- the knob
    that keeps a 100 TB/day stream's state store flat."""
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "ts")
    )
    return _drain_to_memory(deduped, "append")


@query(
    "streaming_ingest_audit",
    oracle=f"""
    WITH e AS ({_EVENTS_NS})
    SELECT CAST(time_bucket(INTERVAL '6 hours', ts) AS TIMESTAMP)
               AS batch_window,
           COUNT(*) AS records_received,
           COUNT(CASE WHEN value IS NOT NULL AND value > 0
                      THEN 1 END) AS records_inserted,
           CASE WHEN COUNT(*) = COUNT(CASE WHEN value IS NOT NULL
                                                AND value > 0
                                           THEN 1 END)
                THEN 'success' ELSE 'partial' END AS status
    FROM e
    GROUP BY 1
    """,
)
def streaming_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: per-micro-batch audit rows (records_received /
    records_inserted / status), the clay-webhook audit log
    (index.ts:42-44,115-125) as a streaming aggregate.

    Oracle: 6-hour event-time buckets are arrival-order independent
    in complete mode (DuckDB's time_bucket origin 2000-01-01 differs
    from Spark's 1970 epoch by a whole number of days, so every
    divisor-of-24h width aligns identically)."""
    stream = _events_stream(spark, sf_dir)
    valid = F.col("value").isNotNull() & (F.col("value") > 0)
    audit = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count("*").alias("records_received"),
            F.count(F.when(valid, 1)).alias("records_inserted"),
        )
        .select(
            F.col("w.start").alias("batch_window"),
            "records_received",
            "records_inserted",
            F.when(
                F.col("records_received") == F.col("records_inserted"),
                F.lit("success"),
            )
            .otherwise(F.lit("partial"))
            .alias("status"),
        )
    )
    return _drain_to_memory(audit, "complete")


@query(
    "streaming_stateful_running_totals",
    # value is a 4-decimal quantity stored as DOUBLE; both engines
    # recover the exact scaled integer with round(value * 10000)
    # (within 1e-6 of an integer, so rounding-mode differences cannot
    # bite), making the per-user totals exact BIGINT arithmetic --
    # the repo's cross-engine micro-unit convention.
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(COALESCE(CAST(round(value * 10000) AS BIGINT), 0))
                AS BIGINT) AS total_value_um
    FROM events
    GROUP BY user_id
    """,
)
def streaming_stateful_running_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (the
    sanctioned path for state machines Spark's built-in aggregates
    can't express -- north-star surface).  Per-user state carries
    (event count, micro-unit value sum) across micro-batches; each
    batch emits the updated running totals for the users it touched.
    State is keyed by user_id in the state store, so a 1000-executor
    cluster shards it horizontally; a production job would add a
    timeout to expire idle users.

    Totals are integer MICRO-UNITS (value * 10000, exact for the
    4-decimal fixture) so the drain is bit-exact and oracle-checkable;
    the final fold below keeps the LAST emission per user (n_events is
    strictly increasing across a user's update-mode emissions), so the
    result equals the batch groupBy even if the source arrives as
    multiple micro-batches."""
    import pandas as pd  # noqa: PLC0415 -- Arrow path only
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    stream = _events_stream(spark, sf_dir)

    def update(key, pdf_iter, state: GroupState):
        n, total_um = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            total_um += int(
                (pdf["value"].fillna(0.0) * 10000.0)
                .round()
                .astype("int64")
                .sum()
            )
        state.update((n, total_um))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_um": [total_um],
            }
        )

    out = (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id BIGINT, n_events BIGINT, "
            "total_value_um BIGINT",
            stateStructType="n BIGINT, total_um BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = _drain_to_memory(out, "update")
    last = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        drained.withColumn("rn", F.row_number().over(last))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "streaming_static_enrich_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_events
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def streaming_static_enrich_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static join (the streaming twin of J3): each events
    micro-batch enriched against the static customer dim keyed by
    user_id.  The static side is re-planned per micro-batch --
    broadcast at dim size, so the stream never shuffles; state-free,
    unlike a stream-stream join."""
    stream = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        "c_mktsegment",
    )
    enriched = (
        stream.join(F.broadcast(dim), "user_id", "left")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"))
    )
    return _drain_to_memory(enriched, "complete")


@query("streaming_session_windows", oracle=_SESSION_SQL)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows computed BY THE STREAMING ENGINE: watermarked
    per-user sessionization with a 10-minute gap -- the streaming twin
    of events_session_window, sharing its gaps-and-islands oracle:
    session boundaries are pure event-time functions, so the
    complete-mode drain equals the batch result row-for-row."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("event_cnt"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "event_cnt",
        )
    )
    return _drain_to_memory(agg, "complete")


@query(
    "streaming_stream_stream_join",
    oracle=f"""
    WITH e AS ({_EVENTS_NS})
    SELECT a.user_id AS u1,
           a.event_id AS first_event,
           b.event_id AS next_event,
           a.ts AS t1,
           b.ts AS t2
    FROM e a
    JOIN e b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '10 minutes'
    """,
)
def streaming_stream_stream_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream self-join: each click-like event
    joined to the same user's later events within 10 minutes (the
    funnel/attribution shape).  Both sides carry watermarks and the
    join condition bounds event time, so the state store can evict --
    the condition IS the state-size contract at 100 TB/day rates.

    Oracle: an availableNow inner join emits exactly the pairs
    satisfying the event-time predicate (the first batch's watermark
    is unset, so nothing is evicted early) -- the same set the batch
    self-join produces, independent of arrival order."""
    stream = _events_stream(spark, sf_dir)
    left = (
        stream.withWatermark("ts", "30 minutes")
        .select(
            F.col("user_id").alias("u1"),
            F.col("event_id").alias("first_event"),
            F.col("ts").alias("t1"),
        )
    )
    right = (
        stream.withWatermark("ts", "30 minutes")
        .select(
            F.col("user_id").alias("u2"),
            F.col("event_id").alias("next_event"),
            F.col("ts").alias("t2"),
        )
    )
    joined = left.join(
        right,
        (F.col("u1") == F.col("u2"))
        & (F.col("t2") > F.col("t1"))
        & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 10 MINUTES")),
    ).select("u1", "first_event", "next_event", "t1", "t2")
    return _drain_to_memory(joined, "append")


@query(
    "streaming_upsert_sink",
    oracle=f"""
    WITH e AS ({_EVENTS_NS}),
    r AS (
        SELECT user_id, event_id, ts, event_type,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM e
    )
    SELECT user_id, event_id, ts, event_type FROM r WHERE rn = 1
    """,
)
def streaming_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming merge-upsert sink: each micro-batch folds into a
    keyed table (latest event per user_id) via foreachBatch -- the
    file-drop-to-warehouse-table pattern (Kafka + MERGE INTO in
    production).  The drop box is staged with TWO copies of the feed
    and maxFilesPerTrigger=1, so the merge really executes
    incrementally across micro-batches (and, being latest-per-key, is
    idempotent under the duplicate delivery).  The rewrite goes to a
    fresh directory then swaps -- at 100 TB a transactional table
    format (or partition-scoped overwrite) replaces the swap, with the
    identical foreachBatch body.

    Oracle: latest-per-key under (ts DESC, event_id DESC) is a
    deterministic fold -- event_id is a unique tiebreak, so the merged
    table is independent of batch boundaries and duplicate delivery,
    and equals the batch row_number rewrite."""
    from pyspark.sql.window import Window

    raw_schema = _events_raw_schema_ddl(spark, sf_dir)
    run = uuid.uuid4().hex[:8]
    target = os.path.join(tempfile.gettempdir(), f"hqmdw_upsert_tgt_{run}")

    def latest_per_key(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        incoming = latest_per_key(batch_df)
        if os.path.exists(target):
            current = read_parquet(batch_df.sparkSession, target)
            merged = latest_per_key(current.unionByName(incoming))
        else:
            merged = incoming
        tmp = target + f".tmp{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(target):
            shutil.rmtree(target)
        os.rename(tmp, target)

    stream = normalize_event_ts(
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_drop_box(sf_dir, copies=2))
    )
    q = (
        stream.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_parquet(spark, target).select(
        "user_id", "event_id", "ts", "event_type"
    )


@query(
    "streaming_egress_retry",
    # Each micro-batch is one full copy of the feed, so both batches
    # produce identical retry accounting over the distinct
    # (user_id, event_type) payload keys; delivery success at attempt
    # a is the deterministic md5(user_id || ':' || a) first-hex-digit
    # >= '4' predicate (the same convention as egress_retry_audit,
    # operators/distribution.py), so DuckDB replays the full
    # telescoping audit: attempt k+1 attempts exactly attempt k's
    # failures.
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) AS cid, event_type
        FROM events
    ),
    fl AS (
        SELECT substr(md5(cid || ':1'), 1, 1) < '4' AS f1,
               substr(md5(cid || ':2'), 1, 1) < '4' AS f2,
               substr(md5(cid || ':3'), 1, 1) < '4' AS f3
        FROM pairs
    ),
    per_attempt AS (
        SELECT CAST(1 AS INTEGER) AS attempt,
               COUNT(*) AS n_attempted,
               CAST(SUM(CASE WHEN NOT f1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_delivered,
               CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_failed
        FROM fl
        UNION ALL
        SELECT CAST(2 AS INTEGER),
               CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN f1 AND NOT f2 THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM fl
        UNION ALL
        SELECT CAST(3 AS INTEGER),
               CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(SUM(CASE WHEN f1 AND f2 AND NOT f3 THEN 1 ELSE 0
                        END) AS BIGINT),
               CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM fl
    )
    SELECT b.batch_id, p.attempt, p.n_attempted, p.n_delivered,
           p.n_failed
    FROM per_attempt p
    CROSS JOIN (SELECT CAST(0 AS INTEGER) AS batch_id
                UNION ALL SELECT CAST(1 AS INTEGER)) b
    """,
)
def streaming_egress_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+T2 composition: per-micro-batch egress through the
    at-least-once retry/audit/DLQ path (egress.post_with_retry) inside
    foreachBatch -- the reference's webhook fan-out with its error
    LOGGING (clay-webhook/index.ts:98-141) upgraded to bounded retry +
    dead-letter.  Failure is the same deterministic md5 predicate as
    the batch twin egress_retry_audit, so per-batch audit rows are
    reproducible; the driver records rows, pytest pins the telescoping
    invariant (attempt k+1 attempts exactly attempt k's failures).

    Two staged copies of the feed + maxFilesPerTrigger=1 force TWO
    micro-batches, so the foreachBatch wiring (not just one call)
    is exercised.  At 100 TB the audit append goes to a transactional
    table; the DAG inside each batch is identical."""
    from .egress import post_with_retry

    raw_schema = _events_raw_schema_ddl(spark, sf_dir)
    run = uuid.uuid4().hex[:8]
    audit_dir = os.path.join(
        tempfile.gettempdir(), f"hqmdw_retry_audit_{run}"
    )

    def factory(attempt: int):
        # deterministic "transport": reproduces the md5 failure
        # predicate row-by-row (no network in the sandbox)
        import hashlib as _h

        def transport(url: str, payload: str) -> bool:
            cid = payload.split("|", 1)[0]
            digest = _h.md5(f"{cid}:{attempt}".encode()).hexdigest()
            return digest[0] >= "4"

        return transport

    def deliver(batch_df: DataFrame, batch_id: int) -> None:
        payloads = batch_df.select(
            F.col("user_id").cast("string").alias("company_id"),
            F.col("event_type").alias("webhook_id"),
            F.concat(
                F.lit("https://example.invalid/hooks/"),
                F.col("event_type"),
            ).alias("webhook_url"),
            F.concat_ws(
                "|", F.col("user_id").cast("string"), "event_type"
            ).alias("payload"),
        ).dropDuplicates(["company_id", "webhook_id"])
        _, _, audit = post_with_retry(
            payloads, factory, rate_limit_per_sec=1_000_000
        )
        audit.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(audit_dir)

    stream = normalize_event_ts(
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_drop_box(sf_dir, copies=2))
    )
    q = (
        stream.writeStream.foreachBatch(deliver)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_parquet(spark, audit_dir).select(
        "batch_id", "attempt", "n_attempted", "n_delivered", "n_failed"
    )


@query(
    "streaming_txn_log_sink",
    # two staged copies of the feed => every event lands twice and the
    # log holds exactly two committed versions (batch 0 and 1)
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) * 2 AS BIGINT) AS n_events,
           CAST(2 AS INTEGER) AS n_versions
    FROM events
    GROUP BY event_type
    """,
)
def streaming_txn_log_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming append sink with TRANSACTIONAL commits: each
    micro-batch lands as one data file plus one atomic txn-log
    version whose number IS the batch_id, so a replayed batch
    (failure/retry re-delivers the same batch_id) re-derives the same
    version and no-ops instead of double-appending -- the exactly-once
    sink contract the ad-hoc parquet swap in streaming_upsert_sink
    cannot give.  Readers folding the log never observe a
    half-committed batch (commit = atomic link, sources/txn_log.py).

    At 100 TB this is the standard streaming-lakehouse ingestion
    shape: file-per-batch appends, log-serialized visibility,
    downstream compaction (layout_compact_small_files) folding the
    small files back together.
    """
    from ..sources.txn_log import (
        _write_file,
        commit_batch_idempotent,
        committed_versions,
        read_snapshot,
    )

    raw_schema = _events_raw_schema_ddl(spark, sf_dir)
    run = uuid.uuid4().hex[:8]
    table_dir = os.path.join(
        tempfile.gettempdir(), f"hqmdw_txnsink_tbl_{run}"
    )
    os.makedirs(table_dir, exist_ok=True)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        # replayed batch: its version is already on the log -- do NOT
        # touch the committed data file (an overwrite would delete and
        # rewrite a path concurrent readers are folding to, breaking
        # the atomic-visibility contract); the no-op IS the
        # exactly-once guarantee
        if batch_id in committed_versions(table_dir):
            return
        name = f"data-b{batch_id:05d}"
        info = _write_file(
            batch_df, table_dir, name, key_col="user_id"
        )
        commit_batch_idempotent(table_dir, batch_id, [info], [])

    stream = normalize_event_ts(
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_drop_box(sf_dir, copies=2))
    )
    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions = committed_versions(table_dir)
    snap = read_snapshot(spark, table_dir)
    return (
        snap.groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
        .withColumn("n_versions", F.lit(len(versions)))
    )
