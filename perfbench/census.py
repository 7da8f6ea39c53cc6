"""The paper's flow as one rep: 4 tables x 17 state chunks fetched through
``run_census_pipeline`` -> ``transforms.union_all`` -> ``write_keyed_layout``
-> read back, on 1/20 of the national tract count, with a fixed per-call
latency and a seeded fault schedule (see ``gen.FAULTS``). The latency and
the fault mix are assumptions of this benchmark, not measurements of the
Census API.

On a 4-vCPU host a warm rep takes 9-15 s, depending on host load. Its
fetch window (first call to last) takes 6-10 s of that. The calls' own
time, almost all of it the 50 ms sleeps of about 100 calls, adds up to
about 5 s, with 0.5-0.8 calls in flight on average. The rest of the
window is the fixed per-job and per-Python-task cost of the four fetch
jobs. The write takes 1-2 s and the read-back under 1 s. So the rep shows
fetch overlap, retries, dead-lettering and per-job overhead more than
decode or write throughput.

Every rep's output is checked per request against rows derived from the
generated inputs: row count and an order-insensitive value hash over the
name-sorted columns. A request is *delivered* (its rows arrived, exactly),
*dead-lettered* (no rows, present in the dead-letter frame) or *lost* (no
rows and no dead letter). Only the truncated body may be lost, and only
the permanent 500s and the truncated body may be dead-lettered; anything
else fails the rep's check.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

from pyspark.sql import functions as F

from clean_census_acs_data_spark import session as S
from clean_census_acs_data_spark import transforms as T
from clean_census_acs_data_spark.plans import census_pipeline as CP
from perfbench import gen
from perfbench.fetcher import FileFetcher, fetch_metrics, read_log


def fingerprint(df) -> dict[str, tuple[int, int]]:
    """Per request key: (rows, sum of a 32-bit row hash). The row hash is
    xxhash64 of the name-sorted columns cast to string, NULL as \\x00."""
    cols = sorted(df.columns)
    row = F.concat_ws("\x01", *[F.coalesce(F.col(f"`{c}`").cast("string"), F.lit("\x00")) for c in cols])
    h = F.xxhash64(row).bitwiseAND(F.lit(0xFFFFFFFF))
    agg = df.groupBy("TABLE_NAME", "STATE_FIPS").agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))
    return {f"{r['TABLE_NAME']}|{r['STATE_FIPS']}": (r["n"], r["h"]) for r in agg.collect()}


# A share of the national envelope (gen.NATIONAL_TRACTS): the rep's cost
# is mostly fixed per job and per task, so a larger share adds little but
# input generation and check time.
SCALE = 1 / 20
LATENCY_S = 0.05


class CensusFaulted:
    name = "census_faulted_fetch"
    nominal_rep_s = 14.0
    # warm reps level off after the first (15 s, then about 14 s); at 14 s a
    # rep, a discarded one would not fit the run budget
    warmup_reps = 0

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.dir = os.path.join(work, self.name)
        self.bodies = os.path.join(self.dir, "bodies")
        self.out_path = os.path.join(self.dir, "out")
        self.log_dir = os.path.join(self.dir, "fetchlog")
        self.schedule = gen.fault_schedule(seed)
        self.keys = gen.request_keys()
        self._expected = None

    def prepare(self) -> dict:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.log_dir)
        info = gen.make_census(self.dir, self.seed, SCALE)
        return {"rows": info["rows"], "requests": len(self.keys), "faults": self.schedule}

    def expected(self):
        """Fingerprints of the generated expected rows; computed on first
        use, after the cold rep, so it does not warm the JVM for it."""
        if self._expected is None:
            df = self.spark.read.parquet(os.path.join(self.dir, "expected.parquet"))
            self._expected = (sorted(df.columns), fingerprint(df))
        return self._expected

    # -- one rep (timed) ---------------------------------------------------
    def rep(self, r: int):
        fetcher = FileFetcher(self.bodies, os.path.join(self.log_dir, f"rep{r}.log"),
                              latency_s=LATENCY_S, schedule=self.schedule)
        outs, deads = [], []
        for table in gen.TABLES:
            out, dead = CP.run_census_pipeline(self.spark, table_name=table, fetcher=fetcher)
            outs.append(out)
            deads.append(dead)
        CP.write_keyed_layout(T.union_all(outs), self.out_path)
        with self.tracer.span("io.readback", "io"):
            back = self.spark.read.parquet(self.out_path)
            got = fingerprint(back)
        S.reap_tracked_caches()
        S.teardown_shared_memos()
        return {"got": got, "columns": sorted(back.columns), "deads": deads, "log": fetcher.log_path}

    # -- checks (untimed) --------------------------------------------------
    def check(self, state) -> dict:
        exp_cols, exp = self.expected()
        dead_df = reduce(lambda a, b: a.unionByName(b), state["deads"])
        dead_keys = [f"{r['table_name']}|{r['state_chunk']}" for r in dead_df.select("table_name", "state_chunk").collect()]
        log = read_log(state["log"])
        attempts: dict[str, int] = {}
        for key, *_ in log:
            attempts[key] = attempts.get(key, 0) + 1
        got = state["got"]
        problems = []
        if state["columns"] != exp_cols:
            problems.append("columns differ")
        if len(dead_keys) != len(set(dead_keys)):
            problems.append("duplicate dead letters")
        delivered = dead = lost = wrong = 0
        for key in self.keys:
            plan = self.schedule.get(key, ["ok"])
            if key in got:
                if got[key] == exp[key]:
                    delivered += 1
                else:
                    wrong += 1
                    problems.append(f"{key}: rows/hash {got[key]} != {exp[key]}")
                if key in dead_keys:
                    problems.append(f"{key}: delivered and dead-lettered")
            elif key in dead_keys:
                dead += 1
            else:
                lost += 1
                # only the truncated body may be lost (a known defect);
                # any other request must arrive or be dead-lettered
                if "trunc" not in plan:
                    problems.append(f"{key}: lost (no rows, no dead letter)")
            # a 500 on every attempt must dead-letter; a body truncated on
            # its first attempt may be delivered, dead-lettered or lost
            if plan[-1] == "500" and key not in dead_keys:
                problems.append(f"{key}: permanent 500 not dead-lettered")
            if key in dead_keys and plan[-1] != "500" and "trunc" not in plan:
                problems.append(f"{key}: dead-lettered without a permanent fault")
            lo = gen.attempts_expected(plan)
            hi = len(plan) if "trunc" in plan else lo
            if not lo <= attempts.get(key, 0) <= hi:
                problems.append(f"{key}: {attempts.get(key, 0)} attempts, schedule says {lo}..{hi}")
        extra = set(got) - set(self.keys)
        if extra:
            problems.append(f"rows for unknown keys {sorted(extra)[:3]}")
        ok = not problems
        fm = fetch_metrics(log, len(self.keys))
        return {
            "ok": ok,
            "problems": problems[:10],
            "attempted": len(self.keys),
            "failed": 0 if ok else len(self.keys),
            "delivered": delivered if ok else 0,
            "items": len(self.keys),
            "counts": {"delivered": delivered, "dead_lettered": dead, "lost": lost, "wrong": wrong},
            "fetch": {**fm, "dead_letters": len(dead_keys), "lost": lost},
            "rows_out": sum(got[k][0] for k in got),
        }

    def write_files(self) -> tuple[int, int]:
        """(parquet files, bytes) of the last written layout."""
        n = size = 0
        for dirpath, _, files in os.walk(self.out_path):
            for fn in files:
                if fn.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, fn))
        return n, size

