"""Batch/stream parity: the streaming engine must produce the same
windowed results as the batch plan over the same events (T1), and
keyed dedup must yield one row per key (T4)."""

from __future__ import annotations

import os

from hq_master_data_warehouse_spark.sources.loaders import load_table
from hq_master_data_warehouse_spark.streaming.jobs import (
    events_tumbling_window,
    streaming_dedup_by_key,
    streaming_tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def test_stream_tumbling_matches_batch(spark):
    stream_rows = {
        (r.window_start, r.event_type): r.cnt
        for r in streaming_tumbling_counts(spark, SF).collect()
    }
    batch_rows = {
        (r.window_start, r.event_type): r.cnt
        for r in events_tumbling_window(spark, SF).collect()
    }
    assert stream_rows == batch_rows


def test_stream_dedup_one_row_per_key(spark):
    out = streaming_dedup_by_key(spark, SF)
    users = [r.user_id for r in out.collect()]
    assert len(users) == len(set(users))
    batch_users = {
        r.user_id
        for r in load_table(spark, SF, "events").select("user_id").distinct().collect()
    }
    assert set(users) == batch_users


def test_stateful_running_totals_match_batch(spark):
    from pyspark.sql import functions as F

    from hq_master_data_warehouse_spark.streaming.jobs import (
        streaming_stateful_running_totals,
    )

    out = {
        r.user_id: (r.n_events, r.total_value_um)
        for r in streaming_stateful_running_totals(spark, SF).collect()
    }
    batch = {
        r.user_id: (r.n, r.total_um)
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.coalesce(
                    F.round(F.col("value") * 10000).cast("long"),
                    F.lit(0),
                )
            ).alias("total_um"),
        )
        .collect()
    }
    # bit-exact: totals are integer micro-units on both sides
    assert out == batch


def test_stream_static_join_matches_batch(spark):
    from pyspark.sql import functions as F

    from hq_master_data_warehouse_spark.streaming.jobs import (
        streaming_static_enrich_join,
    )

    out = {
        r.c_mktsegment: r.n_events
        for r in streaming_static_enrich_join(spark, SF).collect()
    }
    events = load_table(spark, SF, "events")
    dim = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = {
        r.c_mktsegment: r.n_events
        for r in events.join(dim, "user_id", "left")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"))
        .collect()
    }
    assert out == batch


def test_stream_session_windows_match_batch(spark):
    from hq_master_data_warehouse_spark.streaming.jobs import (
        events_session_window,
        streaming_session_windows,
    )

    stream_rows = {
        (r.user_id, r.session_start, r.session_end, r.event_cnt)
        for r in streaming_session_windows(spark, SF).collect()
    }
    batch_rows = {
        (r.user_id, r.session_start, r.session_end, r.event_cnt)
        for r in events_session_window(spark, SF).collect()
    }
    assert stream_rows == batch_rows


def test_stream_stream_join_matches_batch_self_join(spark):
    from pyspark.sql import functions as F

    from hq_master_data_warehouse_spark.streaming.jobs import (
        streaming_stream_stream_join,
    )

    out = {
        (r.u1, r.first_event, r.next_event)
        for r in streaming_stream_stream_join(spark, SF).collect()
    }
    ev = load_table(spark, SF, "events")
    l = ev.select(
        F.col("user_id").alias("u1"),
        F.col("event_id").alias("first_event"),
        F.col("ts").alias("t1"),
    )
    r = ev.select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("next_event"),
        F.col("ts").alias("t2"),
    )
    batch = {
        (x.u1, x.first_event, x.next_event)
        for x in l.join(
            r,
            (F.col("u1") == F.col("u2"))
            & (F.col("t2") > F.col("t1"))
            & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 10 MINUTES")),
        ).collect()
    }
    assert out == batch


def test_dedup_within_watermark_bounds_and_coverage(spark):
    """Redelivery collapse: at most one row per (user, type) within the
    delay window; every (user, type) pair still represented."""
    from hq_master_data_warehouse_spark.streaming.jobs import (
        streaming_dedup_within_watermark,
    )

    rows = streaming_dedup_within_watermark(spark, SF).collect()
    n_events = load_table(spark, SF, "events").count()
    assert 0 < len(rows) <= n_events
    batch_pairs = {
        (r.user_id, r.event_type)
        for r in load_table(spark, SF, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert {(r.user_id, r.event_type) for r in rows} >= batch_pairs


def test_upsert_sink_matches_batch_latest_per_key(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hq_master_data_warehouse_spark.sources.loaders import load_table
    from hq_master_data_warehouse_spark.sources.txn_log import (
        committed_versions,
    )
    from hq_master_data_warehouse_spark.streaming.jobs import (
        streaming_upsert_sink,
    )

    sf = "/root/testdata/sf0.001"
    result = streaming_upsert_sink(spark, sf)
    got = {tuple(r) for r in result.collect()}
    # the sink's table is a txn-log table: one version per micro-batch
    (data_file,) = {os.path.dirname(p) for p in result.inputFiles()}
    table_dir = os.path.dirname(data_file.removeprefix("file://"))
    assert committed_versions(table_dir) == [0, 1]
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    want = {
        tuple(r)
        for r in events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
        .collect()
    }
    assert got == want


def test_streaming_egress_retry_audit_telescopes(spark):
    """foreachBatch retry: per micro-batch, attempt k+1 attempts
    exactly attempt k's failures; batches see identical input, so
    their audits agree."""
    from hq_master_data_warehouse_spark.registry import (
        QUERIES,
        load_catalog,
    )

    load_catalog()
    rows = QUERIES["streaming_egress_retry"](spark, SF).collect()
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r.batch_id, {})[r.attempt] = r
    assert len(by_batch) == 2  # maxFilesPerTrigger=1 over two copies
    for audits in by_batch.values():
        assert audits[2].n_attempted == audits[1].n_failed
        assert audits[3].n_attempted == audits[2].n_failed
    a, b = by_batch.values()
    assert {(k, v.n_attempted, v.n_delivered) for k, v in a.items()} == {
        (k, v.n_attempted, v.n_delivered) for k, v in b.items()
    }


def test_concurrent_staging_never_deletes_a_live_box(spark, tmp_path):
    """ADVICE r9: the drop-box staging must be atomic-rename, never an
    in-place rmtree+copy of the shared path -- N concurrent stagers of
    the same fresh fixture must all end up with ONE complete box and
    every reader must see a complete file set."""
    import glob
    import os
    import shutil
    import tempfile
    import threading

    from hq_master_data_warehouse_spark.streaming.jobs import (
        _drop_box,
        _events_stream,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copyfile(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(sf, "events.parquet"),
    )
    boxes = os.path.join(tempfile.gettempdir(), "hqmdw_mat_events_box_*")
    before = set(glob.glob(boxes))
    errs = []

    def stage():
        try:
            # building the reader runs the staging path end-to-end
            _events_stream(spark, sf)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=stage) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    # exactly one complete box for this fixture, no tmp leftovers
    box = _drop_box(sf)
    try:
        assert set(glob.glob(boxes)) - before == {box}
        assert not glob.glob(box + ".tmp*")
        # box is readable and complete
        n = spark.read.parquet(box).count()
        assert n == spark.read.parquet(
            os.path.join(sf, "events.parquet")
        ).count()
    finally:
        shutil.rmtree(box, ignore_errors=True)
