"""Rate-limited HTTP JSON egress sink (SURVEY ops S9, T3, F9, C9).

Reference behavior (src/app/api/send/route.ts:90-134): per webhook,
POST one JSON document per company in chunks of RATE_LIMIT=10 with a
1,000 ms sleep between chunks (:5-7), collecting ok/fail per row
(:125-128); a ``skipWebhooks`` flag (:13,94-95) dry-runs the sink and
counts everything as sent.

Spark disposition (SURVEY.md par.4.2): a *sink*, not a planner
concern.  ``mapPartitions`` posts each partition's rows through an
injectable transport with a per-partition token bucket; the cluster-
wide rate is ``rate_limit_per_sec`` divided across partitions, so the
destination sees at most the reference's aggregate rate no matter how
many executors fan out.  Results come back as a DataFrame (one row per
attempted POST) so the A3 tally and the S6 ledger append are ordinary
downstream aggregations -- per-row ACTUAL status, not the reference's
blanket 'sent' (route.ts:146).

The at-least-once path (``post_with_retry``) materializes the payloads
once, runs every retry attempt inside the same ``mapPartitions`` pass
(a partition re-posts its own failures), and materializes that one
result; delivered rows, the dead-letter queue and the per-attempt
audit are all read from it.  The upstream plan therefore runs once
per call, whatever the number of attempts, and a retried row is
re-sent with the body of its first attempt.

The transport is a plain callable ``(url, payload_json) -> bool`` so
tests inject a recorder and production injects urllib/requests; the
engine itself never imports an HTTP client (no hidden network deps).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Iterator

from pyspark.accumulators import AccumulatorParam, _accumulatorRegistry
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StructField,
    StructType,
)

from ..session import local_df, sql_string

#: reference rate constants -- send/route.ts:5-7
RATE_LIMIT = 10
RATE_INTERVAL_SEC = 1.0

RESULT_SCHEMA = (
    "company_id string, webhook_id string, webhook_url string, ok boolean"
)
AUDIT_SCHEMA = (
    "attempt int, n_attempted long, n_delivered long, n_failed long"
)

Transport = Callable[[str, str], bool]


def build_payloads(assigned: DataFrame, batch_id: str) -> DataFrame:
    """F9+C9: enrich each assigned row with the _batch_metadata struct
    (send/route.ts:102-111) and serialize the full document to JSON.
    Both projections are ``selectExpr`` strings: a few py4j calls each,
    where the Column API pays several per operator."""
    meta = (
        f"named_struct('batch_id', {sql_string(batch_id)}, "
        "'batch_timestamp', date_format(current_timestamp(), "
        "'yyyy-MM-dd\\'T\\'HH:mm:ss.SSSXXX'), "
        "'employee_range', segment, "
        "'webhook_name', concat('webhook-', webhook_id), "
        "'source', 'hq-data-warehouse') AS _batch_metadata"
    )
    return assigned.selectExpr("*", meta).selectExpr(
        "CAST(c_custkey AS STRING) AS company_id",
        "CAST(webhook_id AS STRING) AS webhook_id",
        "concat('https://example.invalid/hooks/', webhook_id) AS webhook_url",
        "to_json(struct(*)) AS payload",
    )


def _throttle(per_window: float) -> Callable[[], None]:
    """Token bucket: the returned callable blocks until one more POST
    fits in the current ``RATE_INTERVAL_SEC`` window."""
    sent_in_window = 0
    window_start = time.monotonic()

    def take() -> None:
        nonlocal sent_in_window, window_start
        if sent_in_window >= per_window:
            elapsed = time.monotonic() - window_start
            if elapsed < RATE_INTERVAL_SEC:
                time.sleep(RATE_INTERVAL_SEC - elapsed)
            sent_in_window = 0
            window_start = time.monotonic()
        sent_in_window += 1

    return take


def _post_rows(
    rows: Iterable[Row], transport: Transport, take: Callable[[], None]
) -> Iterator[tuple[Row, bool]]:
    """The one row loop both sinks share: POST each row through
    ``transport`` at the bucket's pace; a raising transport is a
    failed POST, never a failed task."""
    for row in rows:
        take()
        try:
            ok = bool(transport(row.webhook_url, row.payload))
        except Exception:
            ok = False
        yield row, ok


def _per_partition_rate(n_parts: int, rate_limit_per_sec: int) -> float:
    """The cluster-wide rate divided across the ``n_parts`` partitions
    that post concurrently."""
    return max(rate_limit_per_sec / max(n_parts, 1), 0.1)


def post_with_rate_limit(
    payloads: DataFrame,
    transport: Transport | None = None,
    skip_webhooks: bool = False,
    rate_limit_per_sec: int = RATE_LIMIT,
) -> DataFrame:
    """S9/T3: fan out POSTs with a token bucket per partition.

    ``skip_webhooks=True`` reproduces the reference's dry-run flag
    (route.ts:13): no transport calls, every row counted ok.
    """
    if transport is None and not skip_webhooks:
        raise ValueError(
            "post_with_rate_limit needs a transport unless "
            "skip_webhooks=True (the reference's dry-run flag)"
        )
    per_partition_rate = _per_partition_rate(
        payloads.rdd.getNumPartitions(), rate_limit_per_sec
    )

    def run_partition(rows: Iterator[Row]) -> Iterator[Row]:
        if skip_webhooks:
            posted = ((row, True) for row in rows)
        else:
            posted = _post_rows(
                rows, transport, _throttle(per_partition_rate)
            )
        for row, ok in posted:
            yield Row(
                company_id=row.company_id,
                webhook_id=row.webhook_id,
                webhook_url=row.webhook_url,
                ok=ok,
            )

    rdd = payloads.rdd.mapPartitions(run_partition)
    return payloads.sparkSession.createDataFrame(rdd, RESULT_SCHEMA)


class _Tally(AccumulatorParam):
    """Element-wise sum of equal-length count lists."""

    def zero(self, value: list[int]) -> list[int]:
        return [0] * len(value)

    def addInPlace(self, a: list[int], b: list[int]) -> list[int]:
        return [x + y for x, y in zip(a, b)]


def post_with_retry(
    payloads: DataFrame,
    transport_factory: Callable[[int], Transport],
    max_attempts: int = 3,
    rate_limit_per_sec: int = RATE_LIMIT,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """At-least-once egress: attempt, audit, retry failures, dead-letter
    what is left (clay-webhook/index.ts:98-141 -- errors are LOGGED
    per batch, never dropped; the DLQ replaces the reference's manual
    replay from the error audit).

    ``transport_factory(attempt)`` supplies the transport for each
    attempt so tests can model transient vs permanent failures
    deterministically.  The factory is called on the executors, once
    per partition and attempt, so it MUST be picklable (a module-level
    function or class, or a closure cloudpickle can ship).

    One call runs the upstream plan once and each (row, attempt) POST
    once:

    1. ``payloads`` is materialized eagerly (``localCheckpoint``).
       The duplicate-key check and the POSTs read that copy, so the
       upstream plan runs once and a retried row carries the same
       body on every attempt (``build_payloads`` stamps
       ``current_timestamp()``, which a re-derived plan would re-stamp).
    2. All ``max_attempts`` run in ONE ``mapPartitions`` pass: each
       partition posts its rows, then re-posts its own failures with
       the next attempt's transport, all through one token bucket per
       partition.  It yields one result row per (row, attempt).
    3. That result is materialized once, eagerly; ``delivered`` and
       the dead-letter DataFrame are filters over it.  ``audit`` is
       counted by the posting tasks themselves (an accumulator, which
       Spark applies once per successful task of the checkpoint job),
       so it costs no job of its own.  Reading them runs no POST again.

    On one-partition payloads the call runs three jobs (the payloads
    checkpoint, the duplicate check, the posting pass), and each read
    of ``delivered`` or the dead-letter frame one more, none with an
    exchange.

    A task retried by Spark re-posts its partition, which the
    at-least-once contract allows.

    Returns ``(delivered, dead_letter, audit)``: delivered rows with
    the attempt that succeeded, the undeliverable remainder (with
    ``payloads``' schema), and one audit row per attempt 1..
    ``max_attempts`` (n_attempted / n_delivered / n_failed; zeros for
    an attempt with nothing pending).

    Retries key on ``(company_id, webhook_id)``, so those keys MUST be
    unique in ``payloads`` -- with duplicates, one failed duplicate
    would re-send every row sharing the key and the delivered/DLQ
    disjointness accounting breaks.  The precondition is enforced here
    by failing fast: silently deduplicating would pick an arbitrary
    payload body per key and the dropped bodies would reach neither
    delivered, DLQ, nor audit -- an unacceptable silent loss for an
    at-least-once channel.
    """
    # A checkpoint forgets its plan's partitioning (an adaptive plan
    # reports none).  Coalescing each checkpoint to the partition count
    # it has changes no task; at one partition it tells the planner the
    # rows are SinglePartition, so the duplicate check and each read of
    # the results run as one job with no exchange.
    payloads = payloads.localCheckpoint()
    n_parts = max(payloads.rdd.getNumPartitions(), 1)
    payloads = payloads.coalesce(n_parts)
    n_dup = (
        payloads.groupBy("company_id", "webhook_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    if n_dup:
        raise ValueError(
            f"payloads contain {n_dup} duplicate (company_id, "
            "webhook_id) keys; deduplicate upstream (choosing which "
            "payload body wins) before calling post_with_retry"
        )
    per_partition_rate = _per_partition_rate(n_parts, rate_limit_per_sec)

    spark = payloads.sparkSession
    # [posted, delivered] per attempt, summed over the posting tasks
    tally = spark.sparkContext.accumulator([0] * (2 * max_attempts), _Tally())

    def run_partition(rows: Iterator[Row]) -> Iterator[tuple]:
        take = _throttle(per_partition_rate)
        counts = [0] * (2 * max_attempts)
        pending: Iterable[Row] = rows
        for attempt in range(1, max_attempts + 1):
            failed = []
            posted = _post_rows(pending, transport_factory(attempt), take)
            for row, ok in posted:
                yield (*row, attempt, ok)
                counts[2 * attempt - 2] += 1
                if ok:
                    counts[2 * attempt - 1] += 1
                else:
                    failed.append(row)
            if not failed:
                break
            pending = failed
        tally.add(counts)

    schema = StructType(
        [
            *payloads.schema.fields,
            StructField("attempt", IntegerType(), False),
            StructField("ok", BooleanType(), False),
        ]
    )
    try:
        results = (
            spark.createDataFrame(payloads.rdd.mapPartitions(run_partition), schema)
            .coalesce(n_parts)
            .localCheckpoint()
        )
        counts = tally.value
    finally:
        # PySpark registers an accumulator for the life of the context.
        # The checkpoint job has merged every update before returning
        # and its tasks never run again (a local checkpoint has no
        # lineage to recompute), so release it here: a long-running
        # sender would otherwise keep one per cycle.
        _accumulatorRegistry.pop(tally.aid, None)
    posted, ok = counts[::2], counts[1::2]
    audit = local_df(
        spark,
        [
            (a + 1, posted[a], ok[a], posted[a] - ok[a])
            for a in range(max_attempts)
        ],
        AUDIT_SCHEMA,
    )
    delivered = results.filter("ok").select(
        "company_id", "webhook_id", "webhook_url", "ok", "attempt"
    )
    dead_letter = results.filter(
        ~F.col("ok") & (F.col("attempt") == max_attempts)
    ).select(*payloads.columns)
    return delivered, dead_letter, audit


def egress_tally(results: DataFrame) -> DataFrame:
    """A3: per-webhook sent/failed counters (send/route.ts:125-128)."""
    return results.groupBy("webhook_id").agg(
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("sent"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("failed"),
    )
