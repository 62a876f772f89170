"""Per-task cost of a Spark Python worker before user code runs.

    SPARK_GRAFT_CPUS=4 python3 plans/pr12/worker_cost.py

Every Python task runs ``importlib.invalidate_caches()`` while it sets
up its paths (``pyspark/worker_util.py``, ``setup_spark_files``).  On
Python 3.11 that re-reads the directory of every zipimporter in
``sys.path_importer_cache``, ``pyspark.zip`` and the Spark jars among
them.  This times that one call inside a worker, six one-task jobs in
a row, then the wall time of a one-task Python job against a one-task
JVM job.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from hq_master_data_warehouse_spark.session import get_test_spark


def probe(_):
    import importlib
    import sys
    import time
    import zipimport

    zips = sum(
        isinstance(v, zipimport.zipimporter)
        for v in sys.path_importer_cache.values()
    )
    cpu, wall = time.process_time(), time.perf_counter()
    importlib.invalidate_caches()
    yield {
        "python": sys.version.split()[0],
        "zipimporters": zips,
        "invalidate_cpu_ms": round((time.process_time() - cpu) * 1000, 1),
        "invalidate_wall_ms": round((time.perf_counter() - wall) * 1000, 1),
    }


spark = get_test_spark()
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext
for _ in range(6):
    print(sc.parallelize([0], 1).mapPartitions(probe).collect()[0])
for _ in range(5):
    t = time.perf_counter()
    sc.parallelize([0], 1).mapPartitions(lambda it: it).count()
    py = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(1).count()
    jvm = time.perf_counter() - t
    print(f"one-task Python job {py * 1000:.0f} ms, one-task JVM job {jvm * 1000:.0f} ms")
