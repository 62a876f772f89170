"""Full-registry sweep (r14): one warm pass + one timed noop pass for
EVERY registered query at sf0.1 -- the checkable form of "optimize
every operator" (same method as the r13 sweep).  A refuse-guard
(ValueError) is recorded as a refusal, not an error.

Writes plans/r14/sweep_all.json: name -> [warm_s, timed_s] or
{"refused": msg}.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from hq_master_data_warehouse_spark import registry  # noqa: E402
from hq_master_data_warehouse_spark.session import CPUS, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(ROOT, "plans", "r14", "sweep_all.json")


def main() -> None:
    registry.load_catalog()
    spark = get_spark(master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    names = sorted(registry.QUERIES)
    for i, name in enumerate(names):
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        times = []
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                registry.QUERIES[name](spark, SF_DIR).write.format(
                    "noop"
                ).mode("overwrite").save()
                times.append(round(time.perf_counter() - t0, 3))
            out[name] = times
        except ValueError as e:  # refuse-guard: intended behavior
            out[name] = {"refused": str(e)[:160]}
        except Exception as e:  # noqa: BLE001
            out[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
        print(
            json.dumps({"i": i, "name": name, "t": out[name]}),
            flush=True,
        )
    with open(OUT, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
    errs = [n for n, v in out.items() if isinstance(v, dict) and "error" in v]
    print(json.dumps({"n": len(out), "errors": errs, "out": OUT}))
    spark.stop()


if __name__ == "__main__":
    main()
