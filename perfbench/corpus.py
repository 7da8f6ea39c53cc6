"""The training-data cascade as one rep: the three registry entries
``corpus_clean_e2e`` -> ``dedup_cascade_report`` -> ``dedup_survivor_selection``
over a generated corpus, each collected, with ``reap_tracked_caches()``
after each and ``teardown_shared_memos()`` at the end of the rep, so every
rep pays its own shingle, signature, pair and component fills.

Each entry's output is checked against DuckDB running the oracle over the
same ``documents.parquet``: row count, column kinds and the
order-insensitive value hash of ``scripts/local_correctness.py``. The
oracle results are computed once per seed, outside timing, and kept in the
work directory.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import time

from clean_census_acs_data_spark import queries as Q
from clean_census_acs_data_spark import session as S
from clean_census_acs_data_spark.compare import schema_kinds
from perfbench import gen

ENTRIES = ("corpus_clean_e2e", "dedup_cascade_report", "dedup_survivor_selection")

# The registry oracle of dedup_cascade_report normalizes text with DuckDB's
# regexp_replace but without the 'g' flag, so DuckDB strips only the first
# punctuation mark and collapses only the first run of spaces, while the
# Spark entry (regexp_replace replaces every match) strips them all. On text
# with more than one punctuation mark the two disagree and the oracle is the
# one at fault. The check runs the oracle with the flag added; once the
# registry's text carries it, these replacements find nothing to change.
ORACLE_FIXES = {
    "dedup_cascade_report": (
        ("'[^a-z0-9 ]', '')", "'[^a-z0-9 ]', '', 'g')"),
        ("' +', ' ')", "' +', ' ', 'g')"),
    ),
}


def oracle_sql(name: str) -> str:
    sql = Q.ORACLES[name]
    for old, new in ORACLE_FIXES.get(name, ()):
        sql = sql.replace(old, new)
    return sql


def _value_hash():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_local_correctness", os.path.join(root, "scripts", "local_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def _kinds(df) -> list[list[str]]:
    """schema_kinds in its JSON form, so fresh and cached oracles compare."""
    return [list(k) for k in schema_kinds(df)]


class CorpusCascade:
    name = "corpus_dedup_cascade"
    n_docs = 2000
    nominal_rep_s = 6.0
    # a rep's CPU time still falls by a fifth from the first warm rep to
    # the third, and reps on that slope are the most sensitive to host load
    warmup_reps = 2

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.dir = os.path.join(work, self.name, f"seed{seed}-n{self.n_docs}")
        self.value_hash = _value_hash()

    def prepare(self) -> dict:
        info = gen.make_corpus(self.dir, self.seed, self.n_docs)
        t = time.perf_counter()
        self.expect = self._oracle()
        return {**info, "oracle_s": time.perf_counter() - t}

    def _oracle(self) -> dict[str, dict]:
        """Oracle rows, kinds and hash per entry, cached per seed and
        oracle text (a changed oracle is recomputed)."""
        sql = {n: oracle_sql(n) for n in ENTRIES}
        tag = hashlib.md5(json.dumps(sql, sort_keys=True).encode()).hexdigest()[:12]
        path = os.path.join(self.dir, f"oracle-{tag}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.dir}/documents.parquet'")
        out = {}
        for n in ENTRIES:
            odf = con.execute(sql[n]).df()
            out[n] = {"rows": len(odf), "kinds": _kinds(odf), "hash": self.value_hash(odf)}
        con.close()
        with open(path, "w") as f:
            json.dump(out, f)
        return out

    # -- one rep (timed) ---------------------------------------------------
    def rep(self, r: int):
        got = {}
        for n in ENTRIES:
            df = Q.QUERIES[n](self.spark, self.dir)
            with self.tracer.span(f"collect.{n}", "bench"):
                got[n] = df.toPandas()
            S.reap_tracked_caches()
        S.teardown_shared_memos()
        return got

    # -- checks (untimed) --------------------------------------------------
    def check(self, got) -> dict:
        problems = []
        for n in ENTRIES:
            e, pdf = self.expect[n], got[n]
            if len(pdf) != e["rows"]:
                problems.append(f"{n}: {len(pdf)} rows, oracle {e['rows']}")
            elif _kinds(pdf) != e["kinds"]:
                problems.append(f"{n}: kinds {_kinds(pdf)} != {e['kinds']}")
            elif self.value_hash(pdf) != e["hash"]:
                problems.append(f"{n}: value hash differs")
        ok = not problems
        return {
            "ok": ok,
            "problems": problems,
            "attempted": 1,
            "failed": 0 if ok else 1,
            "delivered": 1 if ok else 0,
            "items": self.n_docs,
            "rows_per_entry": {n: len(got[n]) for n in ENTRIES},
        }

    def probe_pairs(self) -> dict:
        """Candidate pairs and their precision, read from a fresh fill of
        the standard pair table outside any timed rep."""
        from clean_census_acs_data_spark.operators import dedup as D

        fn = getattr(D.standard_near_dup_pairs, "__wrapped__", D.standard_near_dup_pairs)
        pairs = fn(self.spark, self.dir, threshold=0.0)
        n = pairs.count()
        kept = pairs.where("jaccard >= 0.5").count()
        S.teardown_shared_memos()
        return {"candidate_pairs": n, "pair_precision": kept / n if n else 0.0}
