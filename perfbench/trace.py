"""Spans at layer boundaries, for the traced run only.

``Tracer.install`` replaces the public module-level functions of the
package layers named in ``LAYERS`` (and three registry entries) with
wrappers. Each wrapper records a span (id, name, layer, rep, parent,
start, end) and tags the Spark jobs started inside it with
``setJobGroup`` so executor totals can be folded back per span from
Spark's event log. Spans stay in memory and are written out at exit.

Wrappers look the functions up by module attribute, so calls between
layers (``plans`` -> ``sources`` -> ``transforms``) are seen as well as
the benchmark's own calls. A function that returns a lazy frame shows
only its build time; the executed cost lands in the span that consumes
the frame.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict

from perfbench.corpus import ENTRIES

PKG = "clean_census_acs_data_spark"
LAYERS = {
    "sources.rest": f"{PKG}.sources.rest",
    "sources.census": f"{PKG}.sources.census",
    "transforms": f"{PKG}.transforms",
    "plans": f"{PKG}.plans.census_pipeline",
    "operators.dedup": f"{PKG}.operators.dedup",
    "operators.components": f"{PKG}.operators.components",
    "io": f"{PKG}.io",
}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.rep: int | None = None  # spans are recorded only inside a rep

    # -- spans -------------------------------------------------------------
    def begin(self, name: str, layer: str) -> dict | None:
        if self.rep is None:
            return None
        span = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "rep": self.rep,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        span["group"] = f"perfbench-{self.rep}-{span['id']}"
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(span["group"], name)
        return span

    def end(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.perf_counter()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1]["group"], self.stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "bench"):
        s = self.begin(name, layer)
        try:
            yield s
        finally:
            self.end(s)

    # -- installation ------------------------------------------------------
    def install(self) -> int:
        """Wrap every public function defined in each layer module (for a
        package, in its submodules) and the three registry entries.
        Returns how many functions were wrapped."""
        n = 0
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            is_pkg = hasattr(mod, "__path__")
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn):
                    continue
                home = fn.__module__
                if home != modname and not (is_pkg and home.startswith(modname + ".")):
                    continue
                setattr(mod, attr, _wrap(fn, f"{layer}.{attr}", layer))
                n += 1
        queries = importlib.import_module(f"{PKG}.queries")
        for name in ENTRIES:
            queries.QUERIES[name] = _wrap(queries.QUERIES[name], f"queries.{name}", "queries")
        global ACTIVE
        ACTIVE = self
        return n + len(ENTRIES)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# The installed tracer. Wrappers find it through sys.modules, not through a
# closure: functions that run inside Spark tasks (fetch_responses' closure
# calls build_census_url) are pickled with their wrappers, and on a worker,
# where this module was never imported, the wrapper just calls through.
ACTIVE: Tracer | None = None


def _wrap(fn, name: str, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        tracer = getattr(sys.modules.get("perfbench.trace"), "ACTIVE", None)
        if tracer is None:
            return fn(*args, **kwargs)
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return traced


# --------------------------------------------------------------------------
# span arithmetic
# --------------------------------------------------------------------------


def self_time(span: dict, children: dict[int, list[dict]]) -> float:
    """Duration minus the time child spans cover. Spans on one thread
    nest and never overlap, so the children's durations simply add."""
    dur = span["end"] - span["start"]
    return dur - sum(c["end"] - c["start"] for c in children.get(span["id"], ()))


def subtree(span: dict, children: dict[int, list[dict]]) -> list[dict]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s["id"], ()))
    return out


def index_children(spans: list[dict]) -> dict[int, list[dict]]:
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    return children


# --------------------------------------------------------------------------
# Spark's event log, folded per job group
# --------------------------------------------------------------------------

_ZERO = {
    "jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0, "executor_cpu_ns": 0,
    "gc_ms": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
}


def read_event_log(log_dir: str) -> dict[str, dict[str, int]]:
    """Per job group: jobs, completed stages, tasks, executor run and CPU
    time, GC time, shuffle bytes and spilled bytes. Stages and tasks are
    attributed to the group their stage was submitted under."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    groups: dict[str, dict[str, int]] = defaultdict(lambda: dict(_ZERO))
    stage_group: dict[int, str] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    groups[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerStageCompleted":
                g = stage_group.get(ev["Stage Info"]["Stage ID"])
                if g:
                    groups[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if not g or not m:
                    continue
                t = groups[g]
                t["tasks"] += 1
                t["executor_run_ms"] += m.get("Executor Run Time", 0)
                t["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    return dict(groups)


def fold(groups: dict[str, dict[str, int]], spans: list[dict]) -> dict[str, int]:
    out = dict(_ZERO)
    for s in spans:
        for k, v in groups.get(s["group"], _ZERO).items():
            out[k] += v
    return out
