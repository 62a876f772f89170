"""Egress sink tests (S9/T3): dry-run flag, per-row status, tally,
rate limiting, and payload shape -- mirroring send/route.ts:90-138."""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import functions as F

from hq_master_data_warehouse_spark.operators.distribution import (
    capacity_distribution,
)
from hq_master_data_warehouse_spark.streaming.egress import (
    build_payloads,
    egress_tally,
    post_with_rate_limit,
    post_with_retry,
)

SF = "/root/testdata/sf0.001"


def _payloads(spark, limit=None):
    assigned = capacity_distribution(spark, SF).filter("assigned")
    if limit:
        assigned = assigned.limit(limit)
    return build_payloads(assigned, "batch-test")


def test_skip_webhooks_dry_run(spark):
    """skipWebhooks counts everything as sent without any transport."""
    payloads = _payloads(spark)
    results = post_with_rate_limit(payloads, skip_webhooks=True)
    assert results.filter(~F.col("ok")).count() == 0
    assert results.count() == payloads.count()


def test_transport_failures_recorded_per_row(spark):
    """Failed POSTs are per-row 'failed', not blanket 'sent'."""
    payloads = _payloads(spark, limit=20).coalesce(1)

    def flaky(url, payload):
        return json.loads(payload)["company_id"] >= "1"  # fails some

    results = post_with_rate_limit(
        payloads, transport=flaky, rate_limit_per_sec=10_000
    ).cache()
    oks = results.filter("ok").count()
    fails = results.filter("NOT ok").count()
    assert oks + fails == 20
    assert fails > 0
    tally = egress_tally(results)
    total = tally.agg(
        F.sum("sent").alias("s"), F.sum("failed").alias("f")
    ).collect()[0]
    assert total.s == oks and total.f == fails


def test_rate_limit_throttles(spark):
    """25 posts at 10/s through one partition needs >= ~2 sleep windows."""
    payloads = _payloads(spark, limit=25).coalesce(1)
    t0 = time.monotonic()
    n = post_with_rate_limit(
        payloads, transport=lambda u, p: True, rate_limit_per_sec=10
    ).count()
    elapsed = time.monotonic() - t0
    assert n == 25
    assert elapsed >= 1.5  # two full rate windows crossed


def test_payload_carries_batch_metadata(spark):
    row = _payloads(spark, limit=1).collect()[0]
    doc = json.loads(row.payload)
    meta = doc["_batch_metadata"]
    assert meta["batch_id"] == "batch-test"
    assert meta["source"] == "hq-data-warehouse"
    assert meta["webhook_name"].startswith("webhook-")


def test_retry_delivers_transient_and_dead_letters_permanent(spark):
    """post_with_retry: transient failures succeed on a later attempt,
    permanent failures land in the DLQ, audit accounts for every row."""
    payloads = _payloads(spark, limit=30).cache()
    n = payloads.count()

    def factory(attempt):
        def transport(url, payload):
            cid = int(json.loads(payload)["c_custkey"])
            if cid % 5 == 0:
                return False  # permanent: fails every attempt
            if cid % 3 == 0:
                return attempt >= 2  # transient: first attempt fails
            return True

        return transport

    delivered, dlq, audit = post_with_retry(
        payloads, factory, max_attempts=3, rate_limit_per_sec=10_000
    )
    delivered_rows = delivered.collect()
    dlq_keys = {r.company_id for r in dlq.collect()}
    # every payload is either delivered exactly once or dead-lettered
    assert len(delivered_rows) + len(dlq_keys) == n
    assert {r.company_id for r in delivered_rows}.isdisjoint(dlq_keys)
    # permanent failures (cid % 5 == 0) are exactly the DLQ
    assert dlq_keys == {
        r.company_id
        for r in payloads.collect()
        if int(r.company_id) % 5 == 0
    }
    # the DLQ holds the undelivered payload rows themselves
    assert sorted(dlq.collect()) == sorted(
        r for r in payloads.collect() if int(r.company_id) % 5 == 0
    )
    # transient failures delivered on attempt 2, the rest on attempt 1
    for r in delivered_rows:
        cid = int(r.company_id)
        assert r.attempt == (2 if cid % 3 == 0 and cid % 5 != 0 else 1)
    # audit: attempted counts telescope (attempt k+1 = failures of k)
    a = {r.attempt: r for r in audit.collect()}
    assert a[1].n_attempted == n
    assert a[2].n_attempted == a[1].n_failed
    assert a[3].n_attempted == a[2].n_failed


def test_retry_rejects_duplicate_keys(spark, tmp_path):
    """post_with_retry fails fast on duplicate (company_id, webhook_id)
    keys, before any POST: silently deduplicating would deliver an
    arbitrary payload body and the dropped bodies would reach neither
    delivered, DLQ, nor audit."""
    import pytest

    payloads = _payloads(spark, limit=5)
    dup = payloads.unionByName(
        payloads.limit(1).withColumn(
            "payload", F.lit('{"body": "different"}')
        )
    )
    factory = _recording_factory(str(tmp_path), lambda cid: False)
    with pytest.raises(ValueError, match="duplicate"):
        post_with_retry(dup, factory, max_attempts=1)
    assert _recorded_posts(tmp_path) == []


def _recording_factory(out_dir, fail_first):
    """Transport factory whose transports record every POST as one file
    in ``out_dir`` and fail the companies ``fail_first`` picks on the
    first attempt only."""

    def factory(attempt):
        def transport(url, payload):
            doc = json.loads(payload)
            cid = doc["c_custkey"]
            record = {
                "attempt": attempt,
                "company": cid,
                "batch_timestamp": doc["_batch_metadata"]["batch_timestamp"],
                "body": payload,
            }
            path = os.path.join(out_dir, f"{uuid.uuid4().hex}.json")
            with open(path, "w") as fh:
                json.dump(record, fh)
            return attempt > 1 or not fail_first(cid)

        return transport

    return factory


def _recorded_posts(out_dir):
    posts = []
    for name in os.listdir(out_dir):
        with open(os.path.join(out_dir, name)) as fh:
            posts.append(json.load(fh))
    return posts


def test_retry_resends_the_first_attempt_body(spark, tmp_path):
    """A retried company is re-posted with the body of its first
    attempt: build_payloads stamps current_timestamp(), so re-deriving
    the payloads for a retry would send a different batch_timestamp."""
    payloads = _payloads(spark, limit=20)
    factory = _recording_factory(str(tmp_path), lambda cid: cid % 2 == 0)
    delivered, _, _ = post_with_retry(
        payloads, factory, max_attempts=3, rate_limit_per_sec=10_000
    )
    delivered.collect()
    bodies: dict = {}
    for post in _recorded_posts(tmp_path):
        bodies.setdefault(post["company"], []).append(post)
    retried = {c: ps for c, ps in bodies.items() if len(ps) > 1}
    assert retried
    for posts in retried.values():
        assert sorted(p["attempt"] for p in posts) == [1, 2]
        assert len({p["body"] for p in posts}) == 1
        assert len({p["batch_timestamp"] for p in posts}) == 1


def test_retry_posts_once_however_often_results_are_read(spark, tmp_path):
    """Reading delivered, the DLQ and the audit (twice each) runs no
    POST again: transport calls equal the audit's attempted total, the
    audit keeps a zero row for an attempt with nothing pending, and the
    DLQ keeps the payloads' schema."""
    payloads = _payloads(spark, limit=20)
    factory = _recording_factory(str(tmp_path), lambda cid: cid % 3 == 0)
    delivered, dlq, audit = post_with_retry(
        payloads, factory, max_attempts=3, rate_limit_per_sec=10_000
    )
    for _ in range(2):
        n_delivered = len(delivered.collect())
        n_dead = len(dlq.collect())
        audit_rows = audit.collect()
    assert len(_recorded_posts(tmp_path)) == sum(
        r.n_attempted for r in audit_rows
    )
    a = {r.attempt: r for r in audit_rows}
    assert sorted(a) == [1, 2, 3]
    assert a[1].n_attempted == 20 and a[1].n_failed > 0
    assert a[2].n_attempted == a[1].n_failed and a[2].n_failed == 0
    assert (a[3].n_attempted, a[3].n_delivered, a[3].n_failed) == (0, 0, 0)
    assert (n_delivered, n_dead) == (20, 0)
    assert dlq.schema == payloads.schema


def test_retry_leaves_no_accumulator_registered(spark, tmp_path):
    """The audit's accumulator is released once the posting pass has
    run, so a long-running sender does not grow the driver's
    accumulator registry by one entry per call."""
    from pyspark.accumulators import _accumulatorRegistry

    payloads = _payloads(spark, limit=10).localCheckpoint()
    factory = _recording_factory(str(tmp_path), lambda cid: cid % 2 == 0)
    before = set(_accumulatorRegistry)
    attempted = 0
    for _ in range(3):
        _, _, audit = post_with_retry(
            payloads, factory, max_attempts=2, rate_limit_per_sec=10_000
        )
        attempted += sum(r.n_attempted for r in audit.collect())
    assert set(_accumulatorRegistry) == before
    assert attempted == len(_recorded_posts(tmp_path)) > 0
