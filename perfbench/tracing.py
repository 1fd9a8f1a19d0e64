"""Stdlib-only trace collector for the benchmark's traced runs.

Three pieces:

* ``Tracer`` wraps module functions and class methods of the program
  from outside (the program is not edited). Each call becomes a span
  with its own Spark job group, so every job the call's actions start
  can be attributed to it. Spans nest; the job group is always the
  innermost open span's, so job/task counts are exclusive while
  ``wall_s`` is inclusive and ``self_s`` is the wall minus the walls
  of the span's direct children.
* ``read_event_log`` rolls a Spark event log (uncompressed JSON lines)
  up per job group: jobs, tasks, executor run time, shuffle and spill
  bytes, and the Python-boundary SQL metrics (bytes to and from Python
  workers, worker start time).
* ``rollup`` joins both into per-operation metrics named
  ``<span>.<quantity>`` and takes the median over the traced
  operations.

Files written by a call are counted from outside: the watched
directories are listed before and after the call, and paths that are
new afterwards count. Listing time is subtracted from the walls of the
span and of every enclosing span.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

# Python-boundary SQL metric names (PythonSQLMetrics in Spark 4).
PY_BYTES_METRICS = ("data sent to Python workers",
                    "data returned from Python workers")
PY_BOOT_METRIC = "time to start Python workers"

SPAN_QUANTITIES = ("wall_s", "self_s", "jobs", "tasks", "task_s",
                   "shuffle_bytes", "spill_bytes", "files", "bytes",
                   "py_bytes", "py_boot_s")


def snapshot_files(dirs) -> dict[str, int]:
    """{path: size} of every regular file under ``dirs``."""
    out: dict[str, int] = {}
    for d in dirs:
        for root, _subdirs, files in os.walk(d):
            for name in files:
                p = os.path.join(root, name)
                try:
                    out[p] = os.stat(p).st_size
                except FileNotFoundError:
                    pass  # removed by a concurrent overwrite
    return out


class Tracer:
    """Span recorder. ``watch`` returns the directories whose new files
    are attributed to spans created with ``files=True``."""

    def __init__(self, sc, watch=lambda: ()):
        self.sc = sc
        self.watch = watch
        self.calls: list[dict] = []
        self._stack: list[dict] = []
        self.active = False
        self.op: int | None = None

    # -- spans -----------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group, False)

    def _enter(self, name: str, files: bool) -> dict:
        rec = {"id": len(self.calls), "name": name, "op": self.op,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"pb{len(self.calls)}", "files": 0, "bytes": 0,
               "probe_s": 0.0, "nested_probe_s": 0.0, "child_s": 0.0}
        self.calls.append(rec)
        if files:
            t = time.perf_counter()
            rec["_before"] = snapshot_files(self.watch())
            rec["probe_s"] += time.perf_counter() - t
        self._stack.append(rec)
        self._set_group(rec["group"])
        rec["t0"] = time.perf_counter()
        return rec

    def _exit(self, rec: dict) -> None:
        rec["t1"] = time.perf_counter()
        self._stack.pop()
        self._set_group(self._stack[-1]["group"] if self._stack else None)
        before = rec.pop("_before", None)
        if before is not None:
            t = time.perf_counter()
            after = snapshot_files(self.watch())
            new = [p for p in after if p not in before]
            rec["files"] = len(new)
            rec["bytes"] = sum(after[p] for p in new)
            rec["probe_s"] += time.perf_counter() - t
        # listing time of nested spans ran inside this span's interval
        rec["wall_s"] = rec["t1"] - rec["t0"] - rec["nested_probe_s"]
        if self._stack:
            parent = self._stack[-1]
            parent["nested_probe_s"] += rec["probe_s"] + rec["nested_probe_s"]
            parent["child_s"] += rec["wall_s"]

    @contextlib.contextmanager
    def span(self, name: str, files: bool = False):
        """Record a span around a block (a no-op while inactive)."""
        if not self.active:
            yield
            return
        rec = self._enter(name, files)
        try:
            yield
        finally:
            self._exit(rec)

    # -- wrapping --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, files: bool = False) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a wrapper that records a span while the tracer is active."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, files):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)


# -- event log -------------------------------------------------------------

def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _event_files(path: str) -> list[str]:
    """Event files under ``path`` in write order. Spark 4 writes each
    application as a directory ``eventlog_v2_<app>`` of rolled files
    ``events_<n>_<app>`` (plus an empty ``appstatus_`` marker)."""
    found = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith("events_"):
                found.append((root, int(name.split("_")[1]), name))
    return [os.path.join(r, n) for r, _i, n in sorted(found)]


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: {jobs, tasks, task_s, shuffle_bytes, spill_bytes,
    py_bytes, py_boot_s}. ``path`` is the event-log directory; every
    file in it is read (one per application)."""
    stage_group: dict[int, str] = {}
    acc_meta: dict[int, tuple[str, str]] = {}
    groups: dict[str, dict[str, float]] = {}
    task_accs: list[tuple[str, list]] = []

    def g(name: str) -> dict[str, float]:
        return groups.setdefault(name, dict.fromkeys(
            ("jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes",
             "py_bytes", "py_boot_s"), 0.0))

    for fname in _event_files(path):
        with open(fname, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    g(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    rec = g(group)
                    tm = ev.get("Task Metrics") or {}
                    rec["tasks"] += 1
                    rec["task_s"] += _num(tm.get("Executor Run Time")) / 1000.0
                    rec["shuffle_bytes"] += _num(
                        (tm.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written"))
                    rec["spill_bytes"] += (_num(tm.get("Memory Bytes Spilled"))
                                           + _num(tm.get("Disk Bytes Spilled")))
                    task_accs.append(
                        (group, (ev.get("Task Info") or {}).get("Accumulables", ())))
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_meta)

    # SQL accumulator metadata arrives with the plan, which can be
    # re-planned (AQE) after tasks ran, so resolve names at the end
    for group, accs in task_accs:
        rec = groups[group]
        for a in accs:
            name, mtype = acc_meta.get(a.get("ID"), (a.get("Name"), ""))
            if name in PY_BYTES_METRICS:
                rec["py_bytes"] += _num(a.get("Update"))
            elif name == PY_BOOT_METRIC:
                scale = 1e-9 if mtype == "nsTiming" else 1e-3
                rec["py_boot_s"] += _num(a.get("Update")) * scale
    return groups


# -- rollup ----------------------------------------------------------------

def rollup(calls: list[dict], groups: dict[str, dict[str, float]],
           ops: list[int], span_names) -> dict[str, dict[str, float]]:
    """{span name: {quantity: median over ``ops`` of the per-operation
    sum over that span's calls}}, plus an ``op`` entry holding the
    whole-operation totals. Spans with no call in an operation count 0
    for it."""
    per_op: dict[int, dict[str, dict[str, float]]] = {
        op: {n: dict.fromkeys(SPAN_QUANTITIES, 0.0) for n in span_names}
        for op in ops}
    totals = {op: dict.fromkeys(SPAN_QUANTITIES, 0.0) for op in ops}
    for c in calls:
        if c["op"] not in per_op or "wall_s" not in c:
            continue
        ev = groups.get(c["group"], {})
        vals = {
            "wall_s": c["wall_s"],
            "self_s": c["wall_s"] - c["child_s"],
            "files": c["files"],
            "bytes": c["bytes"],
            **{k: ev.get(k, 0.0) for k in ("jobs", "tasks", "task_s",
                                            "shuffle_bytes", "spill_bytes",
                                            "py_bytes", "py_boot_s")},
        }
        tot = totals[c["op"]]
        for k in ("jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes",
                  "py_bytes", "py_boot_s"):
            tot[k] += vals[k]
        if c["parent"] is None:
            tot["wall_s"] += vals["wall_s"]
            tot["files"] += vals["files"]
            tot["bytes"] += vals["bytes"]
        row = per_op[c["op"]].get(c["name"])
        if row is not None:
            for k, v in vals.items():
                row[k] += v
    out: dict[str, dict[str, float]] = {}
    for n in list(span_names) + ["op"]:
        out[n] = {}
        for q in SPAN_QUANTITIES:
            series = [(totals[op] if n == "op" else per_op[op][n])[q]
                      for op in ops]
            out[n][q] = statistics.median(series) if series else 0.0
    return out
