"""Processes a ``get_spark`` session forks per op, and each op's wall.

Puts a logging shim for each ``--command`` (default ``chmod``) first on
the ``PATH`` the JVM inherits, builds the benchmark's inputs
(``perfbench/inputs.py`` with ``--seed``), and prints for each step the
number of shim calls and the median wall over ``--repeats`` rounds
(after ``--warmup`` unreported rounds):

    python tools/subprocess_census.py --repeats 3

Steps, in the order they run in a round:

- ``write_daily``: ``run_daily``'s chart build, enrich and partitioned
  daily write (one parquet directory per date);
- ``consolidate``: ``run_daily``'s one-file CSV of all dates;
- ``write_unpartitioned``: the frame ``write_daily`` writes, as one
  unpartitioned parquet directory (the partitioned write's baseline);
- ``run_backfill``: seven dates recomputed and overwritten;
- ``ann_cold_build``: the incremental IVF-PQ store built from nothing;
- ``append_batch``: the day-2 batch replayed into that store;
- ``serve``: one ``ivfpq_incremental_served`` query set, collected.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def install_shims(shim_dir: str, log: str, commands=("chmod",)) -> None:
    """Write one shim per command into ``shim_dir``: it appends
    ``<command> <args>`` to ``log`` and then runs the real command.
    Put ``shim_dir`` first on ``PATH`` to count a process's spawns."""
    os.makedirs(shim_dir, exist_ok=True)
    for command in commands:
        real = shutil.which(command)
        if real is None:
            raise FileNotFoundError(f"{command} is not on PATH")
        shim = os.path.join(shim_dir, command)
        with open(shim, "w") as fh:
            fh.write(
                "#!/bin/sh\n"
                f'echo "{command} $*" >> "{log}"\n'
                f'exec "{real}" "$@"\n'
            )
        os.chmod(shim, 0o755)


def spawns(log: str) -> dict[str, int]:
    """Shim calls logged so far, by command."""
    counts: dict[str, int] = {}
    if os.path.exists(log):
        with open(log) as fh:
            for line in fh:
                command = line.split(" ", 1)[0].strip()
                counts[command] = counts.get(command, 0) + 1
    return counts


def _steps(spark, podcast_data: str, ann_data: str, out: str):
    """``(name, run)`` for one round of steps, in order."""
    from pyspark.sql import functions as F

    from perfbench.inputs import BACKFILL_RANGE
    from spotify_podcasts_airflow_batch_spark.pipeline.podcast import (
        PodcastPipeline,
    )
    from spotify_podcasts_airflow_batch_spark.plans import similarity4
    from spotify_podcasts_airflow_batch_spark.plans.registry import all_queries

    pipe = PodcastPipeline(spark, podcast_data, os.path.join(out, "podcast"))
    store: dict[str, str] = {}

    def write_daily():
        shutil.rmtree(pipe.out_root, ignore_errors=True)
        pipe.write_daily(pipe.enrich(pipe.build_charts()))

    def write_unpartitioned():
        frame = (
            pipe.enrich(pipe.build_charts())
            .where(~F.col("__mismatch"))
            .drop("__mismatch")
            .withColumnRenamed("chart_date", "snapshot_date")
        )
        frame.write.mode("overwrite").parquet(os.path.join(out, "unpartitioned"))

    def cold_build():
        similarity4._INC_STORE_CACHE.clear()
        if "root" in store:
            shutil.rmtree(store["root"], ignore_errors=True)
        store["root"] = similarity4.ivfpq_incremental_store(spark, ann_data)

    def append():
        emb = similarity4._emb(spark, ann_data, fan_out="force")
        last = similarity4._INC_WAVES - 1
        similarity4.append_batch(spark, store["root"], similarity4._wave(emb, last), last)

    serve = all_queries()["ivfpq_incremental_served"].spark_fn
    return [
        ("write_daily", write_daily),
        ("consolidate", pipe.consolidate),
        ("write_unpartitioned", write_unpartitioned),
        ("run_backfill", lambda: pipe.run_backfill(*BACKFILL_RANGE)),
        ("ann_cold_build", cold_build),
        ("append_batch", append),
        ("serve", lambda: serve(spark, ann_data).toPandas()),
    ]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument(
        "--command", action="append", help="command to count (repeatable; default chmod)"
    )
    args = ap.parse_args()
    commands = tuple(args.command or ["chmod"])

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from perfbench import inputs
    from perfbench.workloads import Workload
    from spotify_podcasts_airflow_batch_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="subprocess-census-") as work:
        log = os.path.join(work, "spawns.log")
        install_shims(os.path.join(work, "shims"), log, commands)
        os.environ["PATH"] = os.path.join(work, "shims") + os.pathsep + os.environ["PATH"]
        podcast_data = os.path.join(work, "podcast_data")
        ann_data = os.path.join(work, "ann_data")
        for d in (podcast_data, ann_data):
            os.makedirs(d)
        inputs.podcast_tables(podcast_data, args.seed)
        inputs.ann_tables(ann_data, args.seed)

        spark = get_spark("subprocess-census")
        spark.sparkContext.setLogLevel("ERROR")
        walls: dict[str, list[float]] = {}
        counts: dict[str, list[dict[str, int]]] = {}
        try:
            steps = _steps(spark, podcast_data, ann_data, os.path.join(work, "out"))
            # the benchmark's own isolation: no cache or memo carries over
            isolation = Workload(spark, podcast_data, work, args.seed)
            for rnd in range(args.warmup + args.repeats):
                for name, run in steps:
                    isolation.isolate(name)
                    before = spawns(log)
                    t0 = time.perf_counter()
                    run()
                    wall = time.perf_counter() - t0
                    after = spawns(log)
                    if rnd >= args.warmup:
                        walls.setdefault(name, []).append(wall)
                        counts.setdefault(name, []).append(
                            {c: after.get(c, 0) - before.get(c, 0) for c in commands}
                        )
        finally:
            spark.stop()

    header = f"{'step':<22}" + "".join(f"{c:>10}" for c in commands) + f"{'wall_s':>10}"
    print(header)
    for name, w in walls.items():
        n = "".join(
            f"{statistics.median(c[cmd] for c in counts[name]):>10g}" for cmd in commands
        )
        print(f"{name:<22}{n}{statistics.median(w):>10.3f}")


if __name__ == "__main__":
    main()
