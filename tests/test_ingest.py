"""Unit tests for the webhook-ingest normalization (S10/F8): scalar vs
array payloads, unknown-field dropping, empty-string nulling --
mirroring clay-webhook/index.ts:47-91 edge cases."""

from __future__ import annotations

from hq_master_data_warehouse_spark.schemas import PEOPLE_FIELDS, PERSON
from hq_master_data_warehouse_spark.sources.ingest import normalize_payload


def test_array_and_scalar_payloads(spark):
    payloads = [
        ('[{"first_name":"Ada","last_name":"L"},'
         '{"first_name":"Alan","job_title":"cryptanalyst"}]',),
        ('{"first_name":"Grace","unknown_field":"dropped"}',),
    ]
    raw = spark.createDataFrame(payloads, "value string")
    out = normalize_payload(raw)
    rows = {r.first_name: r for r in out.collect()}
    assert set(rows) == {"Ada", "Alan", "Grace"}
    assert out.columns == PEOPLE_FIELDS
    assert out.schema == PERSON
    assert rows["Alan"].job_title == "cryptanalyst"
    # absent whitelisted fields -> NULL
    assert rows["Ada"].job_title is None
    # unknown fields are dropped by the explicit schema
    assert "unknown_field" not in out.columns


def test_malformed_and_null_documents_insert_no_person(spark):
    """Invalid JSON and JSON ``null`` take the reference's catch-all
    error path (clay-webhook/index.ts:131-141): no person row.  Empty
    objects/arrays, bare objects and arrays keep their rows."""
    docs = {
        '{"first_name":': 0,
        "null": 0,
        "": 0,
        "{}": 1,
        "[]": 0,
        '{"first_name":"Ada"}': 1,
        '[{"first_name":"Ada"},{"first_name":"Alan"}]': 2,
    }
    for doc, want in docs.items():
        one = spark.createDataFrame([(doc,)], "value string")
        assert normalize_payload(one).count() == want, doc


def test_empty_string_becomes_null(spark):
    raw = spark.createDataFrame(
        [('{"first_name":"  ","last_name":"Kay"}',)], "value string"
    )
    row = normalize_payload(raw).collect()[0]
    assert row.first_name is None  # JS `|| null` nulls '' too (F8)
    assert row.last_name == "Kay"


def test_bucket_normalization_edge_cases(spark):
    """A1 edge cases: NULL, fuzzy 'Not Sure (approx)', unknown range."""
    from pyspark.sql import functions as F

    from hq_master_data_warehouse_spark.functions.buckets import (
        capacity_for_segment,
        segment_bucket,
    )

    df = spark.createDataFrame(
        [(None,), ("Not Sure (approx)",), ("1-10",), ("weird",)],
        "employee_range string",
    )
    out = df.select(
        segment_bucket(F.col("employee_range")).alias("bucket"),
        capacity_for_segment(F.col("employee_range")).alias("capacity"),
    ).collect()
    buckets = [r.bucket for r in out]
    assert buckets == ["unknown", "not sure", "1-10", "weird"]
    # unknown segments fall back to DEFAULT_RANGE_MAX=10 -> capacity 4000
    assert out[3].capacity == 4000


def test_quarantine_splits_exact_counts(spark):
    from hq_master_data_warehouse_spark.sources.ingest import (
        QUARANTINE_BAD_ROWS,
        ingest_quarantine_bad_records,
    )
    from hq_master_data_warehouse_spark.sources.loaders import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r.outcome: r.n
        for r in ingest_quarantine_bad_records(spark, sf).collect()
    }
    n_events = load_table(spark, sf, "events").count()
    assert got == {
        "clean": n_events,
        "quarantined": QUARANTINE_BAD_ROWS,
    }
