"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload podcast_daily --seed 1 \
        --seconds 16 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts Spark through the package's ``session.get_spark`` on
``local[nproc]``, warms up until op walls plateau, then issues the
workload's rounds of ops one at a time for ``--seconds`` seconds. Every
op (warm-up ops too) is isolated first and its output is checked
against a DuckDB recompute afterwards, outside its timed wall.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it carries the
details behind them. Everything the run writes stays under
``.perfbench/`` in the repository root; the run's own directory is
removed at exit, the span dump of a traced run is kept in
``.perfbench/traces/``.

A traced run reports ``trace_overhead_s``: its op_p50_s minus the
median op_p50_s of the correct untraced runs this checkout has made on
the same code with the same workload and ``--seconds``. Every such run
keeps its op_p50_s in ``.perfbench/untraced/`` for that; when none is
kept, the traced run first makes one with its own seed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spotify_podcasts_airflow_batch_spark"
with open(os.path.join(HERE, "layers.json")) as _fh:
    LAYERS = json.load(_fh)

# Host facts the run pins (the package's defaults, 32 cores and a 48g
# JVM heap, do not fit a 4-core, 15 GB host shared with others).
DRIVER_MEM = "2g"
# Warm-up: the first round pays the cold start; after it, rounds go on
# until they have used WARMUP_MIN_S and the last round's fastest primary
# op is no more than PLATEAU below the round before's (walls stopped
# falling), and no new round starts once they have used WARMUP_MAX_S.
PLATEAU = 0.10
WARMUP_MIN_S = 4.0
WARMUP_MAX_S = 12.0
_MIB = float(1 << 20)


def _boot_seconds() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def _process_start() -> float:
    """This process's start, on the boot clock."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    return ticks / os.sysconf("SC_CLK_TCK")


def _spark_conf(work: str, trace: bool) -> str:
    """A SPARK_CONF_DIR owned by this run: scratch space, warehouse and
    (traced runs) an uncompressed event log, all inside ``work``."""
    conf = os.path.join(work, "conf")
    for d in ("conf", "tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    lines = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            # compiler threads live for the whole run, so cpu_s_per_op can
            # leave their time out exactly (proctree.cpu_seconds)
            "-XX:-UseDynamicNumberOfCompilerThreads "
            # the heap starts at its maximum and resident: no
            # run-dependent expansion, and the JVM's resident set less
            # the committed heap is its memory outside the heap
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": os.path.join(work, "events"),
        "spark.eventLog.compress": "false",
    }
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        for k, v in lines.items():
            fh.write(f"{k} {v}\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %p %c{1}: %m%n%ex\n"
        )
    return conf


def _environment(work: str, trace: bool) -> dict:
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "SPARK_CONF_DIR": _spark_conf(work, trace),
            "TMPDIR": os.path.join(work, "tmp"),
            # spark-submit's own launcher JVM
            "SPARK_LAUNCHER_OPTS": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": cpus, "SPARK_GRAFT_CPUS": cpus, "driver_mem": DRIVER_MEM}


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
    gateway.proc.wait(timeout=60)


def _tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    k = n - 10  # samples at or below the value
    return {
        "percentile": round(100.0 * k / n, 1),
        "value": sorted(samples)[k - 1],
        "samples": n,
    }


class Run:
    def __init__(self, args, work: str):
        from perfbench.tracing import SpanLog
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.cls = WORKLOADS[args.workload]
        self.tracer = SpanLog()
        self.ops: list[dict] = []
        self.spark = None
        self.wl = None
        self.jvm_pid = None

    # set-up --------------------------------------------------------------
    def install_spans(self) -> None:
        """Wrap every public call ``layers.json`` names."""
        import importlib

        for span, spec in LAYERS["spans"].items():
            wrap = spec["wrap"]
            if wrap == "bench":
                continue
            mod_name, attr = f"{PACKAGE}.{span}".rsplit(".", 1)
            mod = importlib.import_module(mod_name)
            if wrap == "function":
                self.tracer.patch_function(span, getattr(mod, attr))
            else:
                cls = getattr(mod, wrap.split(":", 1)[1])
                self.tracer.patch_method(span, cls, attr)

    def setup(self) -> dict:
        from spotify_podcasts_airflow_batch_spark import session

        from pyspark import SparkContext

        self.tracer.active = bool(self.args.trace)
        if self.args.trace:
            self.install_spans()
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark(f"perfbench-{self.args.workload}")
        self.jvm_pid = SparkContext._gateway.proc.pid
        data = os.path.join(self.work, "data")
        os.makedirs(data)
        self.wl = self.cls(self.spark, data, self.work, self.args.seed)
        info = self.wl.generate()
        for kind, label in self.wl.setup_ops:
            self.op(-1, kind, label, "setup")
        self.tracer.active = False
        return info

    # ops ------------------------------------------------------------------
    def op(self, rnd: int, kind: str, label: str, phase: str) -> dict:
        from perfbench import proctree

        wl = self.wl
        wl.isolate(label)
        rec = {"round": rnd, "kind": kind, "label": label, "phase": phase,
               "traced": self.tracer.active}
        sp = None
        cpu0 = proctree.cpu_seconds(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"bench.{wl.name}.{label}") as sp:
                result = wl.run(label, self.tracer)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = proctree.cpu_seconds(self.jvm_pid) - cpu0
            rec["ok"] = bool(wl.check(label, result))
        except Exception:
            rec["wall_s"] = time.perf_counter() - t0
            rec["ok"] = False
            traceback.print_exc()
        if sp is not None:
            rec["span"] = sp["id"]
        if not rec["ok"]:
            print(f"op failed: {rec}", file=sys.stderr)
        self.ops.append(rec)
        return rec

    def round(self, rnd: int, phase: str) -> list[dict]:
        return [
            self.op(rnd, kind, label, phase)
            for kind, label in self.wl.round_ops
        ]

    def warm_up(self) -> int:
        """Rounds until the primary-op walls plateau (module rule)."""

        def fastest(recs):
            return min(r["wall_s"] for r in recs if r["kind"] == "primary")

        prev = fastest(self.round(0, "warmup"))
        t0 = time.perf_counter()
        rnd = 1
        while True:
            cur = fastest(self.round(rnd, "warmup"))
            rnd += 1
            used = time.perf_counter() - t0
            flat = cur >= (1 - PLATEAU) * prev
            if used >= WARMUP_MAX_S or (used >= WARMUP_MIN_S and flat):
                return rnd
            prev = cur

    def _heap_pools(self) -> list:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return [
            p
            for p in mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"
        ]

    def measure(self, first_round: int) -> float:
        """Rounds for --seconds, every one traced in a traced run. The
        peak-memory readings restart at the window's start."""
        from perfbench import proctree

        proctree.reset_peak_rss(self.jvm_pid)
        for pool in self._heap_pools():
            pool.resetPeakUsage()
        self.tracer.active = bool(self.args.trace)
        t0 = time.perf_counter()
        rnd = first_round
        while time.perf_counter() - t0 < self.args.seconds:
            self.round(rnd, "timed")
            rnd += 1
        self.tracer.active = False
        return time.perf_counter() - t0

    def memory(self) -> dict:
        """The timed window's peak memory, in MiB: each heap pool's
        peak used bytes, the heap's committed size, and each live
        process's peak resident set."""
        from perfbench import proctree

        mf = self.spark._jvm.java.lang.management.ManagementFactory
        rss = proctree.peak_rss_mb(self.jvm_pid)
        return {
            "heap_pools": {
                p.getName(): p.getPeakUsage().getUsed() / _MIB
                for p in self._heap_pools()
            },
            "heap_committed": (
                mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
                / _MIB
            ),
            "jvm_rss": rss.pop(self.jvm_pid),
            "forked_rss": sorted(round(v, 1) for v in rss.values()),
        }


def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(run: Run, setup_s: float, peak_rss: float) -> dict:
    """The end-to-end metrics over the timed window's correct ops."""
    timed = [r for r in run.ops if r["phase"] == "timed" and r["ok"]]
    prim = [r["wall_s"] for r in timed if r["kind"] == "primary"]
    writes = [r["wall_s"] for r in timed if r["kind"] == "write"]
    rounds: dict[int, list[dict]] = {}
    for r in timed:
        rounds.setdefault(r["round"], []).append(r)
    # every round has the same op mix: the median round's throughput
    throughput = _median(
        [
            sum(run.wl.rows(r["label"]) for r in ops)
            / sum(r["wall_s"] for r in ops)
            for ops in rounds.values()
        ]
    )
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (_median(prim), "s"),
        "write_p50_s": (_median(writes), "s"),
        "rows_per_s": (throughput, "1/s"),
        "cpu_s_per_op": (
            _median([r["cpu_s"] for r in timed if r["kind"] == "primary"]),
            "s",
        ),
        "peak_rss_mb": (peak_rss, "MB"),
    }


def per_layer(run: Run, report: dict, untraced_p50: float | None) -> dict:
    """Each span's metrics: the median, over the traced ops of the
    first op label that calls the span (round ops before set-up ops),
    of its per-op totals; 0 for a span this workload never calls.
    get_spark is its one set-up call."""
    from perfbench.tracing import span_totals

    wanted = {
        span: spec["metrics"]
        for span, spec in LAYERS["spans"].items()
        if spec["metrics"]
    }
    traced = [r for r in run.ops if r["traced"] and r["ok"]]
    setup_ids = [
        s["id"] for s in report["spans"] if s["name"] == "session.get_spark"
    ]
    totals = span_totals(
        report["spans"], [r["span"] for r in traced] + setup_ids
    )
    by_root: dict[str, dict[str, dict]] = {}
    for (name, root), tot in totals.items():
        by_root.setdefault(name, {})[root] = tot
    labels = list(
        dict.fromkeys(
            label for _, label in run.wl.round_ops + run.wl.setup_ops
        )
    )

    out = {}
    for name, metrics in wanted.items():
        rows = by_root.get(name, {})
        for label in labels:
            ids = {r["span"] for r in traced if r["label"] == label}
            if ids & rows.keys():
                rows = [rows[i] for i in ids & rows.keys()]
                break
        else:
            rows = list(rows.values())
        for m in metrics:
            unit = "s" if m.endswith("_s") else (
                "MB" if m.endswith("_mb") else "count"
            )
            value = statistics.median(r[m] for r in rows) if rows else 0
            out[f"{name}.{m}"] = (value, unit)

    traced_p50 = _median(
        [
            r["wall_s"]
            for r in traced
            if r["phase"] == "timed" and r["kind"] == "primary"
        ]
    )
    out["trace_overhead_s"] = (
        None
        if traced_p50 is None or untraced_p50 is None
        else traced_p50 - untraced_p50,
        "s",
    )
    return out


def _kept_dir(args) -> str:
    """Where correct --trace 0 runs of this workload and --seconds keep
    their op_p50_s, per hash of the code and inputs they measured."""
    h = hashlib.sha256()
    for top in (PACKAGE, "perfbench", "tools"):
        for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                if f.endswith((".py", ".parquet")):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return os.path.join(
        ROOT,
        ".perfbench",
        "untraced",
        f"{args.workload}-{args.seconds:g}s-{h.hexdigest()[:16]}",
    )


def _kept(kept_dir: str) -> list[float]:
    if not os.path.isdir(kept_dir):
        return []
    out = []
    for name in sorted(os.listdir(kept_dir)):
        with open(os.path.join(kept_dir, name)) as fh:
            out.append(json.load(fh))
    return out


def _untraced_op_p50(args) -> tuple[float | None, int]:
    """The median op_p50_s over the kept --trace 0 runs on this code,
    and their number. With none kept, first makes one with the same
    seed, as a child process that has ended before this run starts
    Spark."""
    kept_dir = _kept_dir(args)
    if not _kept(kept_dir):
        cmd = [sys.executable, os.path.abspath(__file__),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", f"{args.seconds:g}", "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=False)
    kept = _kept(kept_dir)
    return (statistics.median(kept) if kept else None), len(kept)


def _peak_mb(mem: dict) -> float:
    """Peak resident memory of the process tree in the timed window,
    less the Java heap: the JVM's resident set outside its pinned,
    pre-touched heap plus the forked Python processes' resident sets.
    The heap is left out because the collector, not the program, sets
    how much of it is used: its pools' peaks (in the detail line) follow
    G1's young-generation sizing and mostly come close to the pin."""
    return mem["jvm_rss"] - mem["heap_committed"] + sum(mem["forked_rss"])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.trace:
        untraced_p50, n_untraced = _untraced_op_p50(args)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(
        base, f"run-{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work)
    host = _environment(work, bool(args.trace))
    run = Run(args, work)
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "host": host}
    try:
        try:
            detail["inputs"] = run.setup()
            detail["warmup_rounds"] = run.warm_up()
            setup_s = _boot_seconds() - _process_start()
            detail["measured_s"] = run.measure(detail["warmup_rounds"])
            detail["memory_mb"] = run.memory()
        finally:
            if run.wl is not None:
                run.wl.close()
            if run.spark is not None:
                _stop_spark(run.spark)
        if args.trace:
            # the event log is complete once the session has stopped
            report = run.tracer.report(os.path.join(work, "events"))
            metrics = per_layer(run, report, untraced_p50)
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            dump = os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"
            )
            with open(dump, "w") as fh:
                json.dump({"ops": run.ops, **report}, fh, indent=1)
            detail["span_dump"] = os.path.relpath(dump, ROOT)
        else:
            metrics = end_to_end(run, setup_s, _peak_mb(detail["memory_mb"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(run.ops)
    failed = sum(1 for r in run.ops if not r["ok"])
    timed = [r for r in run.ops if r["phase"] == "timed"]
    prim = [r["wall_s"] for r in timed if r["kind"] == "primary"]
    detail.update(
        {
            "error_rate": failed / attempted if attempted else None,
            "ops": {
                lab: sum(1 for r in timed if r["label"] == lab)
                for lab in dict.fromkeys(r["label"] for r in timed)
            },
            "op_tail_s": _tail(prim),
            "walls": {
                phase: [[r["label"], round(r["wall_s"], 3)]
                        for r in run.ops if r["phase"] == phase]
                for phase in ("setup", "warmup", "timed")
            },
            "warmup_s": sum(
                r["wall_s"] for r in run.ops if r["phase"] == "warmup"
            ),
        }
    )
    if args.trace:
        detail["untraced_op_p50_s"] = {
            "value": untraced_p50, "runs": n_untraced
        }
    result = {
        "correct": failed == 0
        and all(v is not None for v, _ in metrics.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        },
    }
    if result["correct"] and not args.trace:
        kept_dir = _kept_dir(args)
        os.makedirs(kept_dir, exist_ok=True)
        with open(os.path.join(kept_dir, f"{os.getpid()}.json"), "w") as fh:
            json.dump(metrics["op_p50_s"][0], fh)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
