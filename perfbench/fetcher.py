"""The benchmark-owned census fetcher.

It stands in for the HTTP layer that ``run_census_pipeline(fetcher=...)``
injects. Each call reads the pre-rendered body of its request from a file,
sleeps a fixed latency, applies the seeded fault schedule and appends one
line per attempt to a log: key, attempt, start, end, outcome. The
``sources.fetch.*`` metrics are read from that log, so the program is
never instrumented to get them.

Instances are picklable (plain attributes only): Spark ships them to the
Python workers that run the fetch. Attempt numbers are counted per
instance, which is per task on the worker, where the fetch layer's retry
loop runs. A new instance is made for every rep.
"""

from __future__ import annotations

import os
import time

from perfbench.gen import body_path, key_of


class InjectedTransportError(ConnectionError):
    pass


class FileFetcher:
    def __init__(self, bodies_dir: str, log_path: str, *, latency_s: float,
                 schedule: dict[str, list[str]]):
        self.bodies_dir = bodies_dir
        self.log_path = log_path
        self.latency_s = latency_s
        self.schedule = schedule
        self._attempts: dict[str, int] = {}

    def __call__(self, url: str, params: dict[str, str]) -> tuple[int, dict[str, str], str]:
        start = time.time()
        key = key_of(params)
        attempt = self._attempts.get(key, 0) + 1
        self._attempts[key] = attempt
        plan = self.schedule.get(key, ())
        outcome = plan[attempt - 1] if attempt <= len(plan) else "ok"
        time.sleep(self.latency_s)
        try:
            if outcome == "exc":
                raise InjectedTransportError(f"connection reset ({key})")
            if outcome in ("429", "500"):
                return int(outcome), {"Retry-After": "0"}, f"HTTP {outcome}"
            with open(body_path(self.bodies_dir, key)) as f:
                body = f.read()
            if outcome == "trunc":
                body = body[: len(body) // 2]
            return 200, {"X-RateLimit-Remaining": "99"}, body
        finally:
            line = f"{key}\t{attempt}\t{start:.6f}\t{time.time():.6f}\t{outcome}\n"
            # one write() on an O_APPEND descriptor: lines from concurrent
            # workers never interleave
            fd = os.open(self.log_path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
            try:
                os.write(fd, line.encode())
            finally:
                os.close(fd)


def read_log(path: str) -> list[tuple[str, int, float, float, str]]:
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            key, attempt, start, end, outcome = line.rstrip("\n").split("\t")
            out.append((key, int(attempt), float(start), float(end), outcome))
    return out


def fetch_metrics(log: list[tuple[str, int, float, float, str]], n_requests: int) -> dict[str, float]:
    """Calls, retries, the fetch window and overlap, and per-request
    latency (first attempt start to last attempt end) from one rep's log."""
    if not log:
        return {"calls": 0, "retries": 0, "window_s": 0.0, "inflight_mean": 0.0,
                "request_p50_ms": 0.0, "request_p90_ms": 0.0}
    window = max(e for _, _, _, e, _ in log) - min(s for _, _, s, _, _ in log)
    busy = sum(e - s for _, _, s, e, _ in log)
    per_key: dict[str, list[float]] = {}
    for key, _, s, e, _ in log:
        span = per_key.setdefault(key, [s, e])
        span[0], span[1] = min(span[0], s), max(span[1], e)
    lat = sorted((e - s) * 1000.0 for s, e in per_key.values())
    return {
        "calls": len(log),
        "retries": len(log) - n_requests,
        "window_s": window,
        "inflight_mean": busy / window if window > 0 else 0.0,
        "request_p50_ms": _pct(lat, 0.5),
        "request_p90_ms": _pct(lat, 0.9),
    }


def _pct(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    i = max(0, min(len(sorted_vals) - 1, int(round(q * len(sorted_vals) + 0.5)) - 1))
    return sorted_vals[i]
