"""Fixed cost of one Python-evaluated task on a ``get_spark`` session.

Times a one-task job whose only expression is a Python UDF, and the same
job with the expression evaluated in the JVM, and prints the median wall
of each and their difference (the per-task Python worker setup plus the
Arrow round trip):

    python tools/pyworker_overhead.py --repeats 15

Both jobs are warmed up first, so the Python worker daemon and its
first worker are already running when the timed repeats start.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _median_wall(run, repeats: int) -> float:
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        run()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--repeats", type=int, default=15)
    ap.add_argument("--rows", type=int, default=1000)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from pyspark.sql import functions as F

    from spotify_podcasts_airflow_batch_spark.session import get_spark

    spark = get_spark("pyworker-overhead")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(args.rows, numPartitions=1)
    plus_one = F.udf(lambda x: x + 1, "long")
    jobs = {
        "python_udf": lambda: df.select(plus_one("id")).collect(),
        "jvm_only": lambda: df.select(F.col("id") + 1).collect(),
    }
    try:
        for run in jobs.values():
            for _ in range(3):
                run()
        walls = {name: _median_wall(run, args.repeats) for name, run in jobs.items()}
    finally:
        spark.stop()
    for name, wall in walls.items():
        print(f"{name}_median_s {wall:.3f}")
    print(f"python_task_overhead_s {walls['python_udf'] - walls['jvm_only']:.3f}")


if __name__ == "__main__":
    main()
