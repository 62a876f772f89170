#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Runs from the root of a checkout.  Each run owns a fresh directory
under ``.perfbench_work/`` (``TMPDIR``, ``SPARK_LOCAL_DIRS``, the
generated input tables and every engine-side table the run builds)
and removes it at exit.  Spark runs on ``local[nproc]`` with as many
shuffle partitions and a 2 GB JVM heap.  ``setup_s`` times one cold
set-up: JVM and session start, catalog load, the workload's staging
(matcache tables, the send-cycle ledger) and its warm-up.  Then ops
run pass after pass until ``--seconds`` are up (the first pass always
completes; only complete passes are pass samples), outputs are checked
outside the timed window, and the last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Spans, per-stage records and the run's context go to
``.perfbench_out/<workload>-seed<N>.trace.json`` (traced) or
``.perfbench_out/<workload>-seed<N>.json`` (untraced); a traced run
also reports its overhead against the untraced record of the same
workload and seed when one exists.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

E2E_UNITS = {
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "pass_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "bytes_per_row": "B/row",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``min(10, n // 4)`` of the
    ``n`` samples beyond it (and at least one), and its value.  From
    40 samples on that is 10 samples beyond it; a shorter run keeps a
    quarter of its samples beyond the tail instead of reporting the
    maximum of a few.  Never below the median sample (two samples read
    the higher)."""
    xs = sorted(samples)
    i = max(len(xs) // 2, len(xs) - 1 - max(1, min(10, len(xs) // 4)))
    return 100.0 * (i + 1) / len(xs), xs[i]


class RssSampler:
    """Peak combined RSS of a process tree, sampled from /proc."""

    def __init__(self, pid: int, interval: float = 0.25) -> None:
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.jvm_peak = self.jvm_hwm()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval)

    def jvm_hwm(self) -> int:
        """The JVM's own peak RSS (VmHWM), in bytes."""
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
        return 0

    def sample(self) -> int:
        total = 0
        for p in self.tree():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except OSError:
                continue
        return total

    def tree(self) -> set[int]:
        """The process and all its live descendants."""
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {self.pid}, [self.pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        return tree


def mat_tables(state: str) -> list[str]:
    """Matcache tables built so far in the run's engine-state dir."""
    return [
        os.path.join(state, n) for n in os.listdir(state) if n.startswith("hqmdw_mat_")
    ]


def host_context(args, spark) -> dict:
    java = [
        line
        for line in subprocess.run(
            ["java", "-version"], capture_output=True, text=True, check=False
        ).stderr.splitlines()
        if " version " in line
    ]
    import pyspark

    return {
        "nproc": cores(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "seed": args.seed,
        "seconds": args.seconds,
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
    }


def isolate(work: str) -> None:
    """Point every temp and spill path of this process, the JVM it
    launches and the Python workers at ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (spark-submit's launcher too): no /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # With the engine's default 8 GB JVM heap, G1 grows the heap by
    # GC timing and peak RSS varied by 0.37 (quartile spread over median,
    # 10 runs); a 2 GB heap, far above the live data, holds it to ~0.1.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    tempfile.tempdir = None


def new_session(work: str):
    from hq_master_data_warehouse_spark.session import get_spark

    n = cores()
    spark = get_spark(
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop Spark, close the py4j gateway JVM and wait until it and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    procs = RssSampler(proc.pid).tree() - {proc.pid}
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, 9)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(args) -> int:
    try:
        import datagen
        import workloads
        from hq_master_data_warehouse_spark import registry
        from spans import Tracer
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    Workload = workloads.WORKLOADS[args.workload]
    sf = args.sf or Workload.SF
    work = os.path.join(WORK_DIR, f"{args.workload}-{os.getpid()}")
    try:
        isolate(work)
        data_dir = os.path.join(work, "data")
        datagen.write(sf, data_dir)
        return measure(args, Workload, sf, work, data_dir, registry, Tracer)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)  # only if no other run is using it
        except OSError:
            pass


def measure(args, Workload, sf, work, data_dir, registry, Tracer) -> int:
    state = os.path.join(work, "state")
    os.makedirs(state)
    tempfile.tempdir = state
    t0 = time.perf_counter()
    registry.load_catalog()
    spark = new_session(work)
    session_s = time.perf_counter() - t0
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid).start()
    wl = Workload(data_dir, args.seed)
    wl.setup(spark, Tracer(spark, enabled=False))
    setup_s = time.perf_counter() - t0
    mat_setup = mat_tables(state)

    tracer = Tracer(spark, enabled=bool(args.trace))
    latencies, passes, done = [], [], []
    bytes_per_row = None
    t_timed = time.perf_counter()
    deadline = t_timed + args.seconds
    while time.perf_counter() < deadline:
        p0 = time.perf_counter()
        for name in wl.ops():
            t = time.perf_counter()
            try:
                with tracer.span(name):
                    wl.run(spark, tracer, name)
                done.append((name, True))
            except Exception:  # an op that raises counts as failed
                done.append((name, False))
                traceback.print_exc()
            latencies.append(time.perf_counter() - t)
            if passes and time.perf_counter() >= deadline:
                break  # the first pass always finishes, a later one stops
        else:
            passes.append(time.perf_counter() - p0)
        if bytes_per_row is None:
            # after the first pass, so the figure does not depend on
            # how many passes the engine's speed allows
            bytes_per_row = wl.bytes_per_row()
    timed_s = time.perf_counter() - t_timed
    sampler.stop()
    mat_builds = mat_tables(state)

    # -- outside the timed window: outputs, sizes, host gauge ---------
    from oracle import duckdb_conn

    t_check = time.perf_counter()
    try:
        bad = wl.check(spark, duckdb_conn(data_dir))
    except Exception:  # a check that cannot run is a failed check
        traceback.print_exc()
        bad = ["check"]
    raised = [name for name, ok in done if not ok]
    if args.workload == "send_cycle":
        # a bad batch is one failed cycle; "snapshot" fails one more
        failed = min(len(done), len(raised) + len(bad))
    else:
        failed = sum(1 for name, ok in done if not ok or name in bad)
    ctx = host_context(args, spark)
    ctx.update(
        session_s=session_s,
        setup_s=setup_s,
        timed_s=timed_s,
        check_s=time.perf_counter() - t_check,
        jvm_peak_rss_mb=sampler.jvm_peak / 1e6,
    )
    if args.trace:
        # 768M-row host-speed gauge: ~5 s at 4 cores, so traced runs only
        import bench

        ctx["calibration_s"] = bench._calibration(spark)

    samples = passes if Workload.LATENCY_UNIT == "pass" else latencies
    pct, tail_s = tail(samples)
    e2e = {
        "latency_p50_ms": statistics.median(samples) * 1000.0,
        "latency_tail_ms": tail_s * 1000.0,
        "pass_s": statistics.median(passes),
        "setup_s": setup_s,
        "peak_rss_mb": sampler.peak / 1e6,
        "bytes_per_row": bytes_per_row,
    }
    ctx.update(
        workload=args.workload,
        sf=sf,
        tail_percentile=pct,
        latency_samples=len(samples),
        samples_s=samples,
        latency_unit=Workload.LATENCY_UNIT,
        passes=len(passes),
        matcache_builds_in_setup=len(mat_setup),
        failed_ratio=failed / len(done),
        failed_checks=bad,
        raised=raised,
    )
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}")
    if args.trace:
        from layers import per_layer

        metrics = per_layer(
            tracer,
            wl,
            spark,
            session_s,
            len(mat_builds),
            sum(workloads.dir_bytes(t) for t in mat_builds),
        )
        try:
            with open(stem + ".json") as f:
                base = json.load(f)["end_to_end"]
            ctx["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e}
        except (OSError, ValueError, KeyError):
            ctx["tracing_overhead"] = None  # no untraced run of this seed
        record = {"context": ctx, "end_to_end": e2e, "per_layer": metrics}
        record.update(tracer.dump())
        with open(stem + ".trace.json", "w") as f:
            json.dump(record, f)
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        with open(stem + ".json", "w") as f:
            json.dump({"context": ctx, "end_to_end": e2e}, f)
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"context": ctx}))
    print(
        json.dumps(
            {
                "correct": not bad and not raised,
                "attempted": len(done),
                "failed": failed,
                "metrics": out,
            }
        )
    )
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["dashboard", "curation", "send_cycle"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the data scale")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]
    if args.self_test:
        from selftest import self_test

        return self_test()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
