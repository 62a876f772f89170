"""A/B the minhash link-prediction twin's band count (VERDICT r12
item 2): LP_N_HASHES 24 vs 48 at sf0.1 and sf1 -- recall vs exact
ground truth, wall-clock, shuffle, spill.

Closed form: candidates are generated per r=1 band, so per-pair
detection is 1-(1-j)^N; at the measured top-pair jaccard j~=0.045
that is 0.67 at N=24 and 0.89 at N=48, for ~2x candidate volume.
This script measures whether the 2x candidate volume stays
shallow-spill and under ~2x wall-clock at sf1 -- if yes, 48 is the
default; if no, 24 is the documented knee.

Ground truth:
  sf0.1 -- the exact wedge-join anchor (graph_link_prediction_jaccard)
  runs under its guard at this scale.
  sf1 -- the exact anchor REFUSES at sf1 (1.46e9 estimated wedges >
  4e8 budget), but the sf1 fixture is 10 disjoint key-shifted replicas
  of sf0.1 (scripts/gen_sf1.py), so the TRUE sf1 top-25 derives from
  the sf0.1 exact result: replicate each pair at +i*stride for
  i in 0..9 (stride = part-key stride 100000), re-sort by
  (jaccard desc, a, b), cut at 25.  Same derivation as the r12 sf1
  value verification (ROUNDLOG r12).

Run order per (N, sf): clearCache, then one cold timed collect as one
traced op, whose stage totals come from Spark's status store
(``measure.traced``).  The shared matcache pair table is pre-built per
SF so the A/B isolates the band count, not the once-per-snapshot
substrate build (matching the bench cells' warm-substrate convention).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from measure import Tracer, traced  # noqa: E402
from hq_master_data_warehouse_spark import registry  # noqa: E402
from hq_master_data_warehouse_spark.operators import graph  # noqa: E402
from hq_master_data_warehouse_spark.session import CPUS, get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".data",
    "sf1",
)
PART_STRIDE = 100_000  # scripts/gen_sf1.py: 10^len(str(19999))
N_REPLICAS = 10
TOPK = 25


def _run_cell(spark, tracer, fn, sf_dir: str) -> tuple[list, float, dict]:
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    rows, op, _ = traced(
        tracer, fn.__name__, lambda: fn(spark, sf_dir).collect()
    )
    dt = time.perf_counter() - t0
    mets = {
        "stages": op.attrs["stages"],
        "shuffle_write_mb": round(op.attrs["shuffle_write_mb"], 1),
        "disk_spilled_mb": round(op.attrs["spill_mb"], 1),
    }
    return rows, dt, mets


def _recall(rows, truth) -> dict:
    got = {(r.a, r.b): (r.cn, r.jaccard) for r in rows}
    tset = {(a, b): (cn, j) for a, b, cn, j in truth}
    hit = set(got) & set(tset)
    value_exact = all(got[p] == tset[p] for p in hit)
    return {
        "recall": f"{len(hit)}/{len(tset)}",
        "values_exact_on_recalled": value_exact,
    }


def main() -> None:
    registry.load_catalog()
    # driver memory: SPARK_GRAFT_DRIVER_MEM (session default 8g)
    spark = get_spark(master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, enabled=True)

    # ground truth at sf0.1: the exact anchor
    t0 = time.perf_counter()
    exact = registry.QUERIES["graph_link_prediction_jaccard"](
        spark, SF01
    ).collect()
    print(
        f"exact sf0.1 ground truth: {len(exact)} pairs in "
        f"{time.perf_counter() - t0:.1f}s",
        flush=True,
    )
    truth01 = [(r.a, r.b, r.cn, r.jaccard) for r in exact]
    # derived sf1 truth: replicate per stride, re-sort, cut
    rep = [
        (a + i * PART_STRIDE, b + i * PART_STRIDE, cn, j)
        for a, b, cn, j in truth01
        for i in range(N_REPLICAS)
    ]
    rep.sort(key=lambda r: (-r[3], r[0], r[1]))
    truth1 = rep[:TOPK]

    # pre-build the matcache pair substrate per SF (warm convention)
    for d in (SF01, SF1):
        graph._copurchase_und(spark, d).count()

    results = {}
    for n in (24, 48):
        graph.LP_N_HASHES = n
        for label, d, truth in (
            ("sf0.1", SF01, truth01),
            ("sf1", SF1, truth1),
        ):
            rows, dt, mets = _run_cell(
                spark, tracer, graph.graph_link_prediction_minhash, d
            )
            cell = {
                "wall_s": round(dt, 2),
                **mets,
                **_recall(rows, truth),
            }
            results[f"N={n} {label}"] = cell
            print(f"N={n} {label}: {cell}", flush=True)

    print(json.dumps(results, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
