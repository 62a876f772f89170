"""Optimization profiler: per-cell timings + executed plans
+ per-stage metrics for the headline bench cells (guide section 1:
measure first).

For every requested query it
  1. warms the plan (one noop materialization, same as bench.py),
  2. runs REPS interleaved timed noop passes (min = engine cost,
     median = robust central -- the bench's two estimators),
  3. dumps the EXECUTED adaptive plan (isFinalPlan=true where the
     query is a single job) to <out>/<name>_<tag>.txt,
  4. records the per-stage metric table (task count, input bytes,
     shuffle read/write, spill, peak exec memory) of one measured
     pass via the UI REST API -- the evidence for "where does the
     time go" per guide section 7.1.

Usage: python scripts/profile_cells.py [--out plans/r14] [--tag before]
[--reps 4] [name ...] (default names = bench.py HEADLINE).  Writes a
summary JSON line per query to stdout and the full table to
<out>/profile_<tag>.json; ``--out`` is relative to the repo root
unless absolute.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from hq_master_data_warehouse_spark import registry  # noqa: E402
from hq_master_data_warehouse_spark.session import CPUS, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _explain(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _plan_summary(plan: str) -> dict:
    nodes = re.findall(r"^[+\-:*\s]*(\w[\w ]*\w)\s*\(\d+\)", plan, re.M)
    counts: dict[str, int] = {}
    for n in nodes:
        counts[n] = counts.get(n, 0) + 1
    return {
        "exchanges": counts.get("Exchange", 0)
        + counts.get("AQEShuffleRead", 0) // 1000,  # Exchange only
        "joins": {
            k: v
            for k, v in counts.items()
            if "Join" in k or "CartesianProduct" in k
        },
        "python": {
            k: v
            for k, v in counts.items()
            if "Python" in k or "Arrow" in k or "InPandas" in k
        },
        "scans": counts.get("Scan parquet", 0),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join("plans", "r14"))
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--no-stages", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    out_dir = os.path.join(ROOT, args.out)
    os.makedirs(out_dir, exist_ok=True)
    registry.load_catalog()
    import bench

    names = args.names or [
        n for n in bench.HEADLINE if n in registry.QUERIES
    ]
    spark = get_spark(
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def stages():
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        url = f"{base}/api/v1/applications/{app}/stages?status=COMPLETE"
        with urllib.request.urlopen(url, timeout=30) as r:
            return {(s["stageId"], s["attemptId"]): s for s in json.load(r)}

    # calibration first (host-speed gauge, comparable with bench.py)
    bench._calibration(spark)
    calib = [round(bench._calibration(spark), 4) for _ in range(3)]

    # warm-up pass (plan compile, matcache builds, page cache)
    per_stage: dict[str, list] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        _materialize(registry.QUERIES[name](spark, SF_DIR))

    # one instrumented pass per query (stage metrics + executed plan)
    results: dict[str, dict] = {}
    for name in names:
        before = set(stages()) if not args.no_stages else set()
        spark.sparkContext.setJobDescription(f"measure:{name}")
        # bench.py times CONSTRUCTION + materialization (iterative
        # operators do real work at construction time); match it.
        t0 = time.perf_counter()
        df = registry.QUERIES[name](spark, SF_DIR)
        _materialize(df)
        dt = time.perf_counter() - t0
        if not args.no_stages:
            new = sorted(
                (s for k, s in stages().items() if k not in before),
                key=lambda s: s["stageId"],
            )
            per_stage[name] = [
                {
                    "id": s["stageId"],
                    "tasks": s["numTasks"],
                    "ms": s.get("executorRunTime", 0),
                    "cpu_ms": s.get("executorCpuTime", 0) // 1_000_000,
                    "in_mb": round(s.get("inputBytes", 0) / 2**20, 1),
                    "sr_mb": round(
                        s.get("shuffleReadBytes", 0) / 2**20, 1
                    ),
                    "sw_mb": round(
                        s.get("shuffleWriteBytes", 0) / 2**20, 1
                    ),
                    "spill_mb": round(
                        s.get("diskBytesSpilled", 0) / 2**20, 1
                    ),
                    "name": s.get("name", "")[:50],
                }
                for s in new
            ]
        plan = _explain(spark, df)
        with open(
            os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w"
        ) as f:
            f.write(plan)
        results[name] = {
            "first_pass": round(dt, 3),
            "plan": _plan_summary(plan),
        }

    # interleaved timed reps, bench methodology
    reps: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(args.reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"timed:{name}")
            t0 = time.perf_counter()
            _materialize(registry.QUERIES[name](spark, SF_DIR))
            reps[name].append(round(time.perf_counter() - t0, 4))

    for name in names:
        results[name]["reps"] = reps[name]
        results[name]["min"] = round(min(reps[name]), 3)
        results[name]["med"] = round(
            statistics.median(reps[name]), 3
        )
        if name in per_stage:
            results[name]["stages"] = per_stage[name]
        print(
            json.dumps(
                {
                    "name": name,
                    "min": results[name]["min"],
                    "med": results[name]["med"],
                    "plan": results[name]["plan"],
                },
                separators=(",", ":"),
            ),
            flush=True,
        )

    out = {
        "tag": args.tag,
        "sf_dir": SF_DIR,
        "cpus": CPUS,
        "calib": calib,
        "total_min": round(sum(r["min"] for r in results.values()), 3),
        "queries": results,
    }
    path = os.path.join(out_dir, f"profile_{args.tag}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(
        json.dumps(
            {
                "tag": args.tag,
                "total_min": out["total_min"],
                "calib": calib,
                "out": path,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
