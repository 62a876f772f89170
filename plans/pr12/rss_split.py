"""Per-process RSS around each op of one traced send_cycle run.

    python3 rss_split.py TREE OUT.json [SEED]

Runs ``perfbench/run.py --workload send_cycle --trace 1`` from TREE and
samples /proc every 50 ms for the run's process tree: the driver
Python (run.py), the JVM, the pyspark daemon and each Python worker it
forks.  Samples are then assigned to the traced op spans by time.
"""
import json, os, statistics, subprocess, sys, threading, time

tree_dir, out_path = sys.argv[1], sys.argv[2]
seed = int(sys.argv[3]) if len(sys.argv) > 3 else 301
PAGE = os.sysconf("SC_PAGE_SIZE")


def procs():
    info = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            with open(f"/proc/{name}/statm") as f:
                rss = int(f.read().split()[1]) * PAGE
        except OSError:
            continue
        info[int(name)] = (int(stat.rsplit(")", 1)[1].split()[1]), cmd, rss)
    return info


def classify(pid, root, cmd, parent_cmd):
    if pid == root:
        return "driver_python"
    if "java" in cmd.split(" ")[0] or " org.apache.spark" in cmd:
        return "jvm"
    if "pyspark.daemon" in cmd and "pyspark.daemon" not in parent_cmd:
        return "pyspark_daemon"
    if "python" in cmd:
        return "python_worker"
    return "other"


proc = subprocess.Popen(
    [sys.executable, "perfbench/run.py", "--workload", "send_cycle",
     "--seed", str(seed), "--trace", "1", "--seconds", "10"],
    cwd=tree_dir, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
)
samples = []
stop = threading.Event()


def loop():
    while not stop.is_set():
        t = time.time()
        info = procs()
        tree, frontier = {proc.pid}, [proc.pid]
        while frontier:
            p = frontier.pop()
            for c, (pp, _, _) in info.items():
                if pp == p and c not in tree:
                    tree.add(c); frontier.append(c)
        row = {}
        for p in tree:
            if p not in info:
                continue
            pp, cmd, rss = info[p]
            cls = classify(p, proc.pid, cmd, info.get(pp, (0, "", 0))[1])
            row.setdefault(cls, []).append(rss)
        samples.append((t, {k: (sum(v), len(v), max(v)) for k, v in row.items()}))
        stop.wait(0.05)


th = threading.Thread(target=loop, daemon=True); th.start()
out, _ = proc.communicate()
stop.set(); th.join()
result = json.loads(out.strip().splitlines()[-1])
trace = json.load(open(os.path.join(tree_dir, ".perfbench_out", f"send_cycle-seed{seed}.trace.json")))
MB = 1e6
ops = {}
for sp in trace["spans"]:
    if sp["name"] not in ("read", "distribute", "egress", "commit", "ingest", "compact"):
        continue
    inside = [row for t, row in samples if sp["start"] - 0.05 <= t <= sp["end"] + 0.05]
    if not inside:
        continue
    peak = {}
    for row in inside:
        for cls, (tot, n, mx) in row.items():
            a = peak.setdefault(cls, {"sum_mb": 0, "procs": 0, "max_proc_mb": 0})
            a["sum_mb"] = max(a["sum_mb"], tot / MB)
            a["procs"] = max(a["procs"], n)
            a["max_proc_mb"] = max(a["max_proc_mb"], mx / MB)
    ops.setdefault(sp["name"], []).append(peak)
summary = {}
for name, peaks in ops.items():
    summary[name] = {
        cls: {
            "median_peak_sum_mb": round(statistics.median(p[cls]["sum_mb"] for p in peaks if cls in p), 1),
            "max_peak_sum_mb": round(max(p[cls]["sum_mb"] for p in peaks if cls in p), 1),
            "max_procs": max(p[cls]["procs"] for p in peaks if cls in p),
        }
        for cls in sorted({c for p in peaks for c in p})
    }
overall = {}
for t, row in samples:
    for cls, (tot, n, mx) in row.items():
        overall[cls] = max(overall.get(cls, 0), round(tot / MB, 1))
jvm_tree = max(
    sum(tot for cls, (tot, n, mx) in row.items() if cls != "driver_python")
    for t, row in samples
) / MB
spans = [(sp["start"], sp["end"]) for sp in trace["spans"] if sp["name"] in ("read", "distribute", "egress", "commit", "ingest", "compact")]
t0, t1 = min(a for a, _ in spans), max(b for _, b in spans)
jvm_tree_ops = max(
    (sum(tot for cls, (tot, n, mx) in row.items() if cls != "driver_python")
     for t, row in samples if t0 <= t <= t1), default=0
) / MB
json.dump({
    "tree": tree_dir, "seed": seed, "samples": len(samples), "interval_s": 0.05,
    "correct": result["correct"],
    "jvm_peak_rss_mb_context": trace["context"].get("jvm_peak_rss_mb"),
    "peak_by_process_class_mb": overall,
    "peak_jvm_tree_mb": round(jvm_tree, 1),
    "peak_jvm_tree_timed_window_mb": round(jvm_tree_ops, 1),
    "peak_rss_mb_metric": result.get("metrics", {}).get("peak_rss_mb", {}).get("value"),
    "per_op": summary,
}, open(out_path, "w"), indent=1)
print(json.dumps({"overall": overall, "jvm_tree": round(jvm_tree, 1), "timed": round(jvm_tree_ops, 1)}))
