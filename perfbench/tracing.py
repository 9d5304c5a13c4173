"""Spans around the package's public calls, attributed to Spark's own
metrics through the event log.

The benchmark wraps each call it names (see ``layers.json``) in a span.
While a span is open its id is the thread's Spark job group, so every
job, stage and task in the event log carries the innermost open span.
Spans are kept in memory; ``SpanLog.report`` folds the event log into
per-span numbers after the session has stopped (which flushes the log).

Functions the package imports by name (``from x import f``) are
replaced at every module that holds them, so a wrapper sees the call
whichever module makes it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from contextlib import contextmanager

PACKAGE = "spotify_podcasts_airflow_batch_spark"
_GROUP = "spark.jobGroup.id"
_MB = float(1 << 20)
_FILES_METRIC = "number of written files"


class SpanLog:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    # ------------------------------------------------------------ spans
    def _set_group(self, sid: str | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty(_GROUP, sid)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "t0": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent["id"] if parent else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch_function(self, name: str, orig) -> None:
        """Replace ``orig`` by a traced wrapper wherever a package
        module binds it."""
        wrapped = self.wrap(name, orig)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PACKAGE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapped)

    def patch_method(self, name: str, cls, attr: str) -> None:
        setattr(cls, attr, self.wrap(name, cls.__dict__[attr]))

    # ----------------------------------------------------------- report
    def report(self, event_dir: str) -> dict:
        """Per-span self and inclusive Spark numbers from the event
        log; returns {"spans": [...], "jobs": [...]}."""
        groups, jobs = _parse_event_log(event_dir)
        by_id = {s["id"]: s for s in self.spans}
        children: dict[str, list[dict]] = {}
        for s in self.spans:
            s["wall_s"] = s["t1"] - s["t0"]
            s["self_spark"] = groups.get(s["id"], _zero())
            if s["parent"]:
                children.setdefault(s["parent"], []).append(s)
        # inclusive numbers and self time, children before parents
        for s in reversed(self.spans):
            kids = children.get(s["id"], [])
            inc = dict(s["self_spark"])
            for k in kids:
                for key, v in k["spark"].items():
                    inc[key] += v
            s["spark"] = inc
            s["self_s"] = s["wall_s"] - _covered(kids)
        for j in jobs:
            sp = by_id.get(j["group"])
            j["span"] = sp["name"] if sp else None
        return {"spans": self.spans, "jobs": jobs}


def _covered(kids: list[dict]) -> float:
    """Length of the union of the children's [t0, t1] intervals."""
    total, end = 0.0, None
    for k in sorted(kids, key=lambda k: k["t0"]):
        lo = k["t0"] if end is None else max(k["t0"], end)
        if k["t1"] > lo:
            total += k["t1"] - lo
        end = k["t1"] if end is None else max(end, k["t1"])
    return total


def _zero() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "exec_cpu_s": 0.0,
        "input_rows": 0,
        "shuffle_write_mb": 0.0,
        "output_mb": 0.0,
        "files_written": 0,
    }


def _plan_metric_ids(plan: dict, out: set) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == _FILES_METRIC:
            out.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _plan_metric_ids(child, out)


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as fh:
            yield from fh


def _parse_event_log(event_dir: str) -> tuple[dict, list]:
    """Fold one finished event log into per-job-group totals."""
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> parts
    logs = sorted(
        glob.glob(os.path.join(event_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not logs:
        raise RuntimeError(f"no event log under {event_dir}")
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    stage_name: dict[int, str] = {}
    job_list: list[dict] = []
    exec_group: dict[int, str] = {}
    files_ids: set = set()
    exec_files: dict[int, int] = {}

    def acc(group):
        return groups.setdefault(group, _zero())

    for line in _lines(logs):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get(_GROUP)
            eid = props.get("spark.sql.execution.id")
            if eid is not None and g is not None:
                exec_group.setdefault(int(eid), g)
            job_list.append(
                {"job": ev["Job ID"], "group": g, "stages": []}
            )
            if g is not None:
                acc(g)["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            g = (ev.get("Properties") or {}).get(_GROUP)
            stage_name[sid] = info.get("Stage Name", "")
            if g is not None and sid not in stage_group:
                stage_group[sid] = g
                acc(g)["stages"] += 1
            if job_list:
                job_list[-1]["stages"].append(stage_name[sid])
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if g is None or not tm:
                continue
            a = acc(g)
            a["tasks"] += 1
            a["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            # rows, not bytes: Spark 4.1 reports a few KB of "Bytes Read"
            # for a whole local parquet scan
            a["input_rows"] += tm.get("Input Metrics", {}).get(
                "Records Read", 0
            )
            a["shuffle_write_mb"] += (
                tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                / _MB
            )
            a["output_mb"] += (
                tm.get("Output Metrics", {}).get("Bytes Written", 0) / _MB
            )
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_ids(ev.get("sparkPlanInfo") or {}, files_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            eid = int(ev["executionId"])
            for aid, val in ev.get("accumUpdates", ()):
                if aid in files_ids:
                    exec_files[eid] = exec_files.get(eid, 0) + int(val)
    for eid, n in exec_files.items():
        g = exec_group.get(eid)
        if g is not None:
            acc(g)["files_written"] += n
    return groups, job_list


def span_totals(spans: list[dict], root_ids: list[str]) -> dict:
    """{(span name, root id): totals} -- each span's calls, wall, self
    time and inclusive Spark numbers summed per root (an op, or a
    set-up span), for the spans under the given roots."""
    by_id = {s["id"]: s for s in spans}
    roots = set(root_ids)
    out: dict[tuple[str, str], dict] = {}
    for s in spans:
        r = s
        while r["id"] not in roots and r["parent"] is not None:
            r = by_id[r["parent"]]
        if r["id"] not in roots:
            continue
        tot = out.setdefault(
            (s["name"], r["id"]), {"calls": 0, "wall_s": 0.0, "self_s": 0.0}
        )
        tot["calls"] += 1
        tot["wall_s"] += s["wall_s"]
        tot["self_s"] += s["self_s"]
        for k, v in s["spark"].items():
            tot[k] = tot.get(k, 0) + v
    return out
