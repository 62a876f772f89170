"""Per-layer metrics of a traced run, and the end-to-end metric each
one should move.

``LAYERS`` is the single list: name -> (unit, better, moves), where
``moves`` names the end-to-end metric and workload(s) a change in the
layer metric should show up in.  Every metric is emitted for every
workload; a layer a workload never calls reads 0.  Times and counts
are means per op (one registered query, or one send cycle) unless the
name says otherwise: ``executor.failed_tasks``, ``sources.txn.*``
counts, ``egress.attempted``/``dead_letter``, ``sources.ingest.rows``
and ``matcache.*`` are run totals.
"""

from __future__ import annotations

import os
import statistics

LAYERS: dict[str, tuple[str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s: all"),
    "registry.construct_ms": (
        "ms", "lower", "latency_p50_ms: dashboard; pass_s: curation"),
    "registry.eager_jobs": (
        "count", "lower", "latency_p50_ms: dashboard; pass_s: curation"),
    "catalyst.plan_ms": ("ms", "lower", "latency_p50_ms: dashboard"),
    "catalyst.exchanges": ("count", "lower", "pass_s: curation"),
    "executor.jobs": (
        "count", "lower", "latency_p50_ms: dashboard, send_cycle"),
    "executor.stages": (
        "count", "lower", "latency_p50_ms: dashboard, send_cycle"),
    "executor.tasks": (
        "count", "lower", "latency_p50_ms: dashboard, send_cycle"),
    "executor.idle_ms": (
        "ms", "lower", "latency_p50_ms: dashboard, send_cycle"),
    "executor.cpu_s": ("s", "lower", "pass_s: curation"),
    "executor.run_s": ("s", "lower", "pass_s: curation"),
    "executor.core_util": ("ratio", "higher", "pass_s: curation"),
    "executor.starved_stages": ("count", "lower", "pass_s: curation"),
    "executor.shuffle_read_mb": ("MB", "lower", "pass_s: curation"),
    "executor.shuffle_write_mb": ("MB", "lower", "pass_s: curation"),
    "executor.spill_mb": (
        "MB", "lower", "pass_s: curation; peak_rss_mb: all"),
    "executor.gc_s": ("s", "lower", "pass_s: curation; peak_rss_mb: all"),
    "executor.failed_tasks": ("count", "lower", "failed ops: all"),
    "arrow.bytes_to_python": ("B", "lower", "pass_s: curation"),
    "arrow.bytes_from_python": ("B", "lower", "pass_s: curation"),
    "sources.input_mb": ("MB", "lower", "latency_p50_ms: dashboard"),
    "sources.txn.read_ms": (
        "ms", "lower", "latency_p50_ms, latency_tail_ms: send_cycle"),
    "sources.txn.commit_ms": (
        "ms", "lower", "latency_p50_ms, latency_tail_ms: send_cycle"),
    "sources.txn.commit_retries": (
        "count", "lower", "latency_tail_ms: send_cycle"),
    "sources.txn.live_files": (
        "count", "lower", "latency_p50_ms, bytes_per_row: send_cycle"),
    "sources.txn.compact_ms": ("ms", "lower", "latency_tail_ms: send_cycle"),
    "sources.txn.bytes_rewritten": (
        "B", "lower", "latency_tail_ms, bytes_per_row: send_cycle"),
    "sources.ingest.normalize_ms": (
        "ms", "lower", "latency_p50_ms: send_cycle"),
    "sources.ingest.rows": ("count", "higher", "latency_p50_ms: send_cycle"),
    "egress.attempted": ("count", "lower", "latency_p50_ms: send_cycle"),
    "egress.delivered_ratio": (
        "ratio", "higher", "latency_p50_ms: send_cycle"),
    "egress.dead_letter": ("count", "lower", "latency_p50_ms: send_cycle"),
    "egress.post_ms": ("ms", "lower", "latency_p50_ms: send_cycle"),
    "matcache.builds": ("count", "lower", "setup_s: all; pass_s: curation"),
    "matcache.mb": ("MB", "lower", "setup_s: all"),
}


def per_layer(
    tracer, wl, spark, session_s, mat_builds: int, mat_bytes: int
) -> dict[str, tuple[float, str]]:
    """Every ``LAYERS`` metric of the traced window, with its unit."""
    spans = tracer.spans
    ops = [s for s in spans if s.parent is None]
    n = max(1, len(ops))

    def child(name: str):
        return [s for s in spans if s.parent is not None and s.name == name]

    def mean_ms(name: str) -> float:
        xs = [s.ms for s in child(name)]
        return statistics.fmean(xs) if xs else 0.0

    def total(name: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in child(name))

    def per_op(key: str) -> float:
        return sum(op.attrs.get(key, 0) for op in ops) / n

    wall_s = sum(op.ms for op in ops) / 1000.0
    run_s = sum(op.attrs.get("run_s", 0.0) for op in ops)
    cores = spark.sparkContext.defaultParallelism
    ledger_dir = getattr(wl, "ledger_dir", None)
    payloads = total("egress", "payloads")
    values = {
        "session.start_s": session_s,
        "registry.construct_ms": mean_ms("construct"),
        "registry.eager_jobs": total("construct", "eager_jobs") / n,
        "catalyst.plan_ms": mean_ms("plan"),
        "catalyst.exchanges": total("plan", "exchanges") / n,
        "executor.jobs": per_op("jobs"),
        "executor.stages": per_op("stages"),
        "executor.tasks": per_op("tasks"),
        "executor.idle_ms": per_op("idle_ms"),
        "executor.cpu_s": per_op("cpu_s"),
        "executor.run_s": per_op("run_s"),
        "executor.core_util": run_s / (wall_s * cores) if wall_s else 0.0,
        "executor.starved_stages": per_op("starved_stages"),
        "executor.shuffle_read_mb": per_op("shuffle_read_mb"),
        "executor.shuffle_write_mb": per_op("shuffle_write_mb"),
        "executor.spill_mb": per_op("spill_mb"),
        "executor.gc_s": per_op("gc_s"),
        "executor.failed_tasks": sum(op.attrs.get("failed_tasks", 0) for op in ops),
        "arrow.bytes_to_python": per_op("py_sent"),
        "arrow.bytes_from_python": per_op("py_recv"),
        "sources.input_mb": per_op("input_mb"),
        "sources.txn.read_ms": mean_ms("read"),
        "sources.txn.commit_ms": mean_ms("commit"),
        "sources.txn.commit_retries": total("commit", "retries"),
        "sources.txn.live_files": live_files(ledger_dir),
        "sources.txn.compact_ms": mean_ms("compact"),
        "sources.txn.bytes_rewritten": total("compact", "bytes_rewritten"),
        "sources.ingest.normalize_ms": mean_ms("ingest"),
        "sources.ingest.rows": total("ingest", "rows"),
        "egress.attempted": total("egress", "posts"),
        "egress.delivered_ratio": (
            total("egress", "delivered") / payloads if payloads else 0.0
        ),
        "egress.dead_letter": total("egress", "dead_letter"),
        "egress.post_ms": mean_ms("egress"),
        "matcache.builds": mat_builds,
        "matcache.mb": mat_bytes / 1e6,
    }
    return {k: (float(values[k]), LAYERS[k][0]) for k in LAYERS}


def live_files(ledger_dir: str | None) -> int:
    if not ledger_dir or not os.path.isdir(ledger_dir):
        return 0
    from hq_master_data_warehouse_spark.sources import txn_log

    return len(txn_log.live_files(ledger_dir))
