"""Short self-test of the benchmark itself, on sf0.01.

Runs every workload (also those ``BENCHMARK.json`` leaves out) for a
few seconds untraced and traced, and
asserts that each run is correct, emits exactly the metrics
``BENCHMARK.json`` names with their units, that the traced curation
run reads non-zero Arrow traffic, and that no span's self time
exceeds the wall time of the op it belongs to.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from spans import self_ms
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.01
SECONDS = 2


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7",
        "--seconds", str(SECONDS), "--trace", str(trace), "--sf", str(SF),
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=False
    )
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_spans(path: str) -> None:
    with open(path) as f:
        spans = json.load(f)["spans"]
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    for op in by_parent.get(None, []):
        wall = (op["end"] - op["start"]) * 1000.0
        todo = [op]
        while todo:
            s = todo.pop()
            kids = by_parent.get(s["id"], [])
            own = self_ms(s, kids)
            if own > wall + 1e-6 or own < -1e-6:
                raise AssertionError(
                    f"span {s['name']} self time {own:.3f} ms outside "
                    f"[0, {wall:.3f}] of op {op['name']}"
                )
            todo.extend(kids)


def self_test() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = 0
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[key]}
            try:
                out = _run(w, trace)
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                if got != want:
                    raise AssertionError(f"metrics {got} != {want}")
                if not out["correct"] or out["failed"]:
                    raise AssertionError(f"wrong output {out}")
                if trace and w == "curation":
                    # dedup_embedding_cosine crosses the Arrow boundary
                    for k in ("arrow.bytes_to_python", "arrow.bytes_from_python"):
                        if not out["metrics"][k]["value"] > 0:
                            raise AssertionError(f"{k} is 0")
                if trace:
                    _check_spans(
                        os.path.join(ROOT, ".perfbench_out", f"{w}-seed7.trace.json")
                    )
                status = "ok"
            except (AssertionError, subprocess.TimeoutExpired, ValueError) as exc:
                failures += 1
                status = f"FAIL {exc}"
            print(f"self-test {w} trace={trace}: {status}", file=sys.stderr)
    print(json.dumps({"self_test": "fail" if failures else "ok", "failures": failures}))
    return 1 if failures else 0
