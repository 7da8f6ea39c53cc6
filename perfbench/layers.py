"""Per-layer metrics of a traced run: spans folded with Spark's event-log
totals, the fetcher's log and /proc readings, one value per traced rep,
reported as the median over the traced reps. Layers a workload does not
exercise read 0."""

from __future__ import annotations

import statistics

from perfbench.corpus import ENTRIES
from perfbench.trace import fold, index_children, read_event_log, self_time, subtree

MB = 2**20
DEDUP = "operators.dedup."
SHINGLES, SIGS, PAIRS = (DEDUP + n for n in (
    "standard_shingle_table", "standard_minhash_signatures", "standard_near_dup_pairs"))
TRANSFORMS = {f"transforms.{n}" for n in (
    "normalize_columns", "apply_mapping", "align_schema", "cast_clean", "union_all")}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _excluding(span: dict, children, names: set[str]) -> float:
    """Duration minus the outermost descendant spans named in ``names``."""
    dur, todo = _dur(span), list(children.get(span["id"], ()))
    while todo:
        s = todo.pop()
        if s["name"] in names:
            dur -= _dur(s)
        else:
            todo.extend(children.get(s["id"], ()))
    return dur


def _pruned_subtree(span: dict, children, names: set[str]) -> list[dict]:
    out, todo = [span], list(children.get(span["id"], ()))
    while todo:
        s = todo.pop()
        if s["name"] not in names:
            out.append(s)
            todo.extend(children.get(s["id"], ()))
    return out


def rep_metrics(spans: list[dict], groups, rec: dict, probe: dict) -> dict[str, float]:
    children = index_children(spans)
    named: dict[str, list[dict]] = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)

    def tree(name: str) -> list[dict]:
        return [t for s in named.get(name, ()) for t in subtree(s, children)]

    m: dict[str, float] = {}
    fetch = rec.get("fetch", {})
    for k in ("calls", "retries", "dead_letters", "lost", "window_s", "inflight_mean",
              "request_p50_ms", "request_p90_ms"):
        m[f"sources.fetch.{k}"] = float(fetch.get(k, 0))
    decode = "sources.rest.decode_wire"
    m["sources.decode.build_s"] = sum(_dur(s) for s in named.get(decode, ()))
    m["sources.decode.jobs"] = fold(groups, tree(decode))["jobs"]
    m["transforms.build_s"] = sum(_dur(s) for s in spans if s["name"] in TRANSFORMS)
    pipe = named.get("plans.run_census_pipeline", [])
    m["plans.pipeline.self_s"] = sum(self_time(s, children) for s in pipe)
    m["plans.pipeline.jobs"] = fold(groups, pipe)["jobs"]
    write = tree("plans.write_keyed_layout")
    wt = fold(groups, write)
    files, size = rec.get("write_files", (0, 0))
    rows = rec.get("rows_out", 0)
    m.update({
        "plans.write.s": sum(_dur(s) for s in named.get("plans.write_keyed_layout", ())),
        "plans.write.jobs": wt["jobs"],
        "plans.write.executor_cpu_s": wt["executor_cpu_ns"] / 1e9,
        "plans.write.shuffle_write_mb": wt["shuffle_write_bytes"] / MB,
        "plans.write.spill_mb": wt["spill_bytes"] / MB,
        "plans.write.files": float(files),
        "plans.write.bytes_per_row": size / rows if rows else 0.0,
        "io.readback_s": sum(_dur(s) for s in named.get("io.readback", ())),
    })
    m[DEDUP + "shingles_s"] = sum(_dur(s) for s in named.get(SHINGLES, ()))
    m[DEDUP + "signatures_s"] = sum(_excluding(s, children, {SHINGLES}) for s in named.get(SIGS, ()))
    m[DEDUP + "pairs_s"] = sum(_excluding(s, children, {SHINGLES, SIGS}) for s in named.get(PAIRS, ()))
    pair_spans = [t for s in named.get(PAIRS, ()) for t in _pruned_subtree(s, children, {SHINGLES, SIGS})]
    m[DEDUP + "pairs_jobs"] = fold(groups, pair_spans)["jobs"]
    m[DEDUP + "candidate_pairs"] = float(probe.get("candidate_pairs", 0))
    m[DEDUP + "pair_precision"] = float(probe.get("pair_precision", 0.0))
    cc = "operators.components.connected_components"
    m["operators.components.s"] = sum(_dur(s) for s in named.get(cc, ()))
    m["operators.components.jobs"] = fold(groups, tree(cc))["jobs"]
    for e in ENTRIES:
        m[f"queries.{e}_s"] = sum(self_time(s, children) for s in named.get(f"queries.{e}", ()))
    m["queries.collect_s"] = sum(_dur(s) for s in spans if s["name"].startswith("collect."))
    tot = fold(groups, spans)
    m.update({
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["executor_run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.shuffle_mb": (tot["shuffle_write_bytes"] + tot["shuffle_read_bytes"]) / MB,
        "host.cpu_busy_s": rec["cpu_busy_s"],
        "host.steal_s": rec["steal_s"],
        "trace.spans": float(len(spans)),
    })
    return m


UNITS = {
    "_s": "s", "_ms": "ms", "_mb": "MB", "jobs": "count", "stages": "count", "tasks": "count",
    "calls": "count", "retries": "count", "dead_letters": "count", "lost": "count",
    "files": "count", "candidate_pairs": "count", "spans": "count", ".s": "s",
    "bytes_per_row": "B", "inflight_mean": "ratio", "pair_precision": "ratio",
    "overhead_ratio": "ratio",
}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    raise KeyError(name)


def per_layer(tracer, event_log: str, reps: list[dict], setup_s: float, probe: dict):
    groups = read_event_log(event_log)
    traced = [r for r in reps if r["traced"]]
    untraced = [r for r in reps if r["kind"] == "timed" and not r["traced"]]
    by_rep: dict[int, list[dict]] = {}
    for s in tracer.spans:
        by_rep.setdefault(s["rep"], []).append(s)
    rows = [rep_metrics(by_rep[r["rep"]], groups, r, probe) for r in traced]
    out = {k: statistics.median(row[k] for row in rows) for k in rows[0]}
    out["session.start_s"] = setup_s
    out["session.storage_mb"] = traced[-1]["storage_mb"]
    out["trace.overhead_ratio"] = (
        statistics.median(r["wall_s"] for r in traced) / statistics.median(r["wall_s"] for r in untraced))
    return {k: (float(v), unit(k)) for k, v in sorted(out.items())}
