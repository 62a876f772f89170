"""scripts/measure.py: the profile record read through perfbench's
tracer, the A/B verdict rule, and the lint that keeps every script on
that one reader."""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import measure  # noqa: E402

#: what a traced pass reports per query, besides the timed reps
RECORD_KEYS = {
    "warm_s", "construct_ms", "eager_jobs", "plan_ms", "exchanges",
    "execute_ms", "jobs", "stages", "tasks", "failed_tasks",
    "starved_stages", "cpu_s", "run_s", "gc_s", "idle_ms", "input_mb",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "py_sent",
    "py_recv", "stage_records", "plans", "reps", "min", "med",
}


def test_profile_record_carries_layers_stages_and_plans(spark, sf_dir):
    from hq_master_data_warehouse_spark import registry

    registry.load_catalog()
    names = ["flagship_range_counts", "dedup_embedding_cosine"]
    out = measure.profile(spark, sf_dir, names, reps=1)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    ops = set()
    for name in names:
        rec = out[name]
        assert set(rec) == RECORD_KEYS, name
        assert rec["jobs"] >= 1 and len(rec["reps"]) == 1, name
        assert rec["stages"] == len(rec["stage_records"]) >= 1, name
        op_ids = {s["op"] for s in rec["stage_records"]}
        assert len(op_ids) == 1, name
        ops |= op_ids
        assert "AdaptiveSparkPlan" in rec["plans"], name
    assert len(ops) == 2  # each query's stages carry its own op id
    # applyInPandas ships its rows through Arrow
    assert out["dedup_embedding_cosine"]["py_sent"] > 0


def test_ab_verdict_needs_nine_in_ten_and_the_parent_iqr():
    parent = [1.0 + 0.01 * i for i in range(10)]  # IQR 0.045
    faster = [0.8] * 9 + [2.0]
    assert measure.verdict(parent, faster)["verdict"] == "faster"
    assert measure.verdict(faster, parent)["verdict"] == "slower"
    eight = [0.8] * 8 + [2.0, 2.0]
    assert measure.verdict(parent, eight)["verdict"] == "unresolved"
    # nine wins, but the medians are inside the parent's spread
    close = [p - 0.001 for p in parent[:9]] + [2.0]
    assert measure.verdict(parent, close)["verdict"] == "unresolved"
    # ties count for neither side
    tied = [0.8] * 8 + parent[8:]
    v = measure.verdict(parent, tied)
    assert (v["wins"], v["losses"], v["verdict"]) == (8, 0, "unresolved")
    nine_and_tie = [0.8] * 9 + parent[9:]
    v = measure.verdict(parent, nine_and_tie)
    assert (v["wins"], v["losses"], v["verdict"]) == (9, 0, "faster")
    # fewer than ten pairs resolve nothing, even when every pair is won
    v = measure.verdict(parent[:5], faster[:5])
    assert (v["wins"], v["losses"], v["verdict"]) == (5, 0, "unresolved")
    assert measure.verdict(faster[:5], parent[:5])["verdict"] == "unresolved"


#: a script that reads stages through the UI's REST API instead of the
#: status store: perfbench/spans.py is the one stage reader
REST_SCRAPE = re.compile(r"ui\.enabled|urlopen|/api/v1")


def test_no_script_starts_the_ui_or_reads_its_rest_api():
    scripts = os.path.join(ROOT, "scripts")
    hits = []
    for name in sorted(os.listdir(scripts)):
        path = os.path.join(scripts, name)
        if os.path.isfile(path):
            with open(path, errors="replace") as f:
                if REST_SCRAPE.search(f.read()):
                    hits.append(name)
    assert not hits, f"scripts scraping the Spark UI: {hits}"
