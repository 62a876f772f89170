#!/usr/bin/env python
"""Round evidence from one command, read by the benchmark's own tracer.

    python scripts/measure.py profile --out DIR [--tag T] [--reps N] [name ...]
    python scripts/measure.py sweep --out DIR
    python scripts/measure.py ab --out DIR [--reps N] PARENT CHANGE [name ...]

Defaults: ``--tag before --reps 4``; options go first.

``profile`` runs every query once untraced (plan compile, matcache
builds, page cache), then once more as one traced op through
``perfbench/workloads.QueryMix.run`` -- the code the benchmark runs --
under ``perfbench/spans.Tracer``, which reads Spark's status store with
the UI off.  That pass gives construct/plan/execute ms, eager jobs,
exchanges, jobs, stages, tasks, cpu/run/idle, starved stages, shuffle,
spill, Arrow bytes and the per-stage records; the executed plans of its
SQL executions go to ``<out>/<name>_<tag>.txt``.  Then ``--reps``
interleaved untraced passes give each query's min and median.  The
record is ``<out>/profile_<tag>.json`` (default names: bench.py's
HEADLINE).

``sweep`` is the same loop over every registered name with one timed
rep, without stage records or plan dumps: ``<out>/sweep_all.json``.  A
refuse-guard ``ValueError`` is recorded as a refusal, any other
exception as an error; both end that name's loop.

``ab`` runs ``PAIRS`` pairs of ``profile`` subprocesses, one over each
checkout, alternating which side goes first; each side stages its
tables and writes its runs' records under its own ``TMPDIR``.  It
writes only ``<out>/ab.json``: per query, each side's median and IQR of
the per-run medians, the change's wins and losses, and a verdict (see
``verdict``).

The engine is imported from ``PYTHONPATH`` when it holds one (``ab``
points it at each checkout), else from this checkout.  Data:
``SPARK_GRAFT_SF_DIR`` (default: bench.py's ``SF_DIR``).  Cores:
``SPARK_GRAFT_CPUS``, else the cores this process may run on -- never
the measured tree's default, so older trees measure alike.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# appended, so a checkout on PYTHONPATH supplies the engine
sys.path += [
    p for p in (os.path.join(ROOT, "perfbench"), ROOT) if p not in sys.path
]

from spans import Tracer  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
#: the fewest pairs from which a gain (or loss) may be claimed
PAIRS = 10


def traced(tracer: Tracer, name: str, action):
    """Run ``action()`` as one traced op; return its result, the op span
    and the op's per-stage records.  The job group is cleared after, so
    later jobs are not attributed to the op."""
    try:
        with tracer.span(name) as op:
            result = action()
    finally:
        tracer.spark.sparkContext._jsc.clearJobGroup()
    return result, op, [r for r in tracer.stages if r["op"] == op.id]


def _executed_plans(sql_store, mark: int) -> str:
    """The final plans of the SQL executions from index ``mark`` on."""
    execs = sql_store.executionsList(mark, 1 << 20)
    return "\n".join(
        f"== execution {ex.executionId()}: {ex.description()} ==\n"
        + ex.physicalPlanDescription()
        for ex in (execs.apply(i) for i in range(execs.size()))
    )


def profile(spark, data_dir: str, names, reps: int) -> dict[str, dict]:
    """name -> record: the traced pass's layers, per-stage records
    (``stage_records``) and executed plans (``plans``), the warm-up time
    and the ``reps`` timed seconds with their min and median."""
    from workloads import QueryMix

    mix = QueryMix(data_dir, 0)
    off, tracer = Tracer(spark, enabled=False), Tracer(spark, enabled=True)
    sql_store = spark._jsparkSession.sharedState().statusStore()
    out: dict[str, dict] = {n: {} for n in names}

    def attempt(name, step) -> None:
        if "refused" in out[name] or "error" in out[name]:
            return
        try:
            step(name)
        except ValueError as e:  # refuse-guard: the op's contract
            out[name] = {"refused": str(e)[:160]}
        except Exception as e:  # noqa: BLE001  -- the sweep goes on
            traceback.print_exc()
            out[name] = {"error": f"{type(e).__name__}: {e}"[:200]}

    def timed(name) -> float:
        t0 = time.perf_counter()
        mix.run(spark, off, name)
        return round(time.perf_counter() - t0, 4)

    def trace(name) -> None:
        mark = sql_store.executionsCount()
        _, op, stages = traced(
            tracer, name, lambda: mix.run(spark, tracer, name)
        )
        layer = {s.name: s for s in tracer.spans if s.parent == op.id}
        out[name].update(
            construct_ms=layer["construct"].ms,
            eager_jobs=layer["construct"].attrs["eager_jobs"],
            plan_ms=layer["plan"].ms,
            exchanges=layer["plan"].attrs["exchanges"],
            execute_ms=layer["execute"].ms,
            **op.attrs,
            stage_records=stages,
            plans=_executed_plans(sql_store, mark),
        )

    for name in names:
        attempt(name, lambda n: out[n].update(warm_s=timed(n)))
    for name in names:
        attempt(name, trace)
    for _ in range(reps):
        for name in names:
            attempt(name, lambda n: out[n].setdefault("reps", []).append(timed(n)))
    for rec in out.values():
        if rec.get("reps"):
            rec.update(min=min(rec["reps"]), med=statistics.median(rec["reps"]))
        for k, v in rec.items():
            if isinstance(v, float):
                rec[k] = round(v, 4)
    return out


def verdict(parent: list[float], change: list[float]) -> dict:
    """Paired seconds (lower is better), pair ``i`` one run per side.
    From at least ``PAIRS`` pairs, the change is "faster" when it wins
    at least 9 pairs in 10 and the medians differ by more than the
    parent's IQR, "slower" in the mirror case; otherwise, and from fewer
    pairs, "unresolved".  A tie counts for neither side."""
    wins = sum(c < p for p, c in zip(parent, change))
    losses = sum(c > p for p, c in zip(parent, change))
    pq, cq = _quartiles(parent), _quartiles(change)
    gap, iqr = pq[1] - cq[1], pq[2] - pq[0]
    n, call = len(parent), "unresolved"
    if n >= PAIRS and 10 * wins >= 9 * n and gap > iqr:
        call = "faster"
    elif n >= PAIRS and 10 * losses >= 9 * n and -gap > iqr:
        call = "slower"
    return {
        "parent_med": round(pq[1], 4),
        "change_med": round(cq[1], 4),
        "parent_iqr": round(iqr, 4),
        "change_iqr": round(cq[2] - cq[0], 4),
        "wins": wins,
        "losses": losses,
        "verdict": call,
    }


def _quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, method="inclusive") if xs[1:] else xs * 3


def ab(args) -> dict:
    sides = {s: os.path.abspath(getattr(args, s)) for s in ("parent", "change")}
    tmp = {s: tempfile.mkdtemp(prefix=f"measure_ab_{s}_") for s in sides}
    runs: dict[str, list[dict]] = {s: [] for s in sides}
    try:
        for i in range(PAIRS):
            for side in sorted(sides, reverse=i % 2 == 1):
                tag = f"{side}{i}"
                cmd = [sys.executable, os.path.abspath(__file__), "profile"]
                cmd += ["--out", tmp[side], "--tag", tag, "--reps", str(args.reps)]
                env = dict(
                    os.environ,
                    PYTHONPATH=sides[side],
                    TMPDIR=tmp[side],
                    SPARK_GRAFT_CPUS=str(CPUS),
                )
                subprocess.run(
                    cmd + args.names, env=env, cwd=sides[side], check=True
                )
                with open(os.path.join(tmp[side], f"profile_{tag}.json")) as f:
                    runs[side].append(json.load(f))
    finally:
        for d in tmp.values():
            shutil.rmtree(d, ignore_errors=True)
    names = list(runs["change"][0]["queries"])
    med = {
        s: [[r["queries"][n].get("med") for r in runs[s]] for n in names]
        for s in sides
    }
    return {
        "sides": sides,
        "pairs": PAIRS,
        "reps": args.reps,
        "cpus": CPUS,
        "calib": {s: [r["calib"] for r in runs[s]] for s in sides},
        "queries": {
            n: verdict(p, c) if None not in p + c else {"missing": True}
            for n, p, c in zip(names, med["parent"], med["change"])
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for cmd in ("profile", "sweep", "ab"):
        p = sub.add_parser(cmd)
        p.add_argument("--out", required=True)
        if cmd == "ab":
            p.add_argument("parent")
            p.add_argument("change")
        if cmd != "sweep":
            p.add_argument("--reps", type=int, default=4)
            p.add_argument("names", nargs="*")
        if cmd == "profile":
            p.add_argument("--tag", default="before")
    args = ap.parse_args()
    args.out = os.path.abspath(args.out)
    os.makedirs(args.out, exist_ok=True)
    if args.cmd == "ab":
        result, path = ab(args), os.path.join(args.out, "ab.json")
        with open(path, "w") as f:
            json.dump(result, f, indent=1)
        print(path)
        return

    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)  # bench.py's calibration width
    t0 = time.perf_counter()
    import bench
    from hq_master_data_warehouse_spark import registry
    from hq_master_data_warehouse_spark.session import get_spark

    registry.load_catalog()
    spark = get_spark(
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    bench._calibration(spark)  # JIT warm-up
    calib = [round(bench._calibration(spark), 3) for _ in range(2)]
    if args.cmd == "sweep":
        names, reps, stem = sorted(registry.QUERIES), 1, "sweep_all"
    else:
        names = args.names or [n for n in bench.HEADLINE if n in registry.QUERIES]
        reps, stem = args.reps, f"profile_{args.tag}"
    records = profile(spark, bench.SF_DIR, names, reps)
    for name, rec in records.items():
        plans = rec.pop("plans", None)
        if args.cmd == "sweep":
            rec.pop("stage_records", None)
        elif plans is not None:
            with open(os.path.join(args.out, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plans)
    summary = {
        "sf_dir": bench.SF_DIR,
        "cpus": CPUS,
        "calib": calib,
        "wall_s": round(time.perf_counter() - t0, 1),
        "errors": sorted(n for n, r in records.items() if "error" in r),
        "refused": sorted(n for n, r in records.items() if "refused" in r),
    }
    with open(os.path.join(args.out, f"{stem}.json"), "w") as f:
        json.dump({**summary, "queries": records}, f, indent=1)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
