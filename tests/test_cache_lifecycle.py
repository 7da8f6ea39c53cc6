"""Entry-local cache lifecycle + bench drift gauge (VERDICT r8 #2/#5).

Entry functions register their local caches through
``session.tracked_cache``; bench.py reaps them after each entry so a
700-entry sweep in one long-lived session cannot accumulate storage
blocks (ADVICE r8). Session-SHARED memos (dedup pair/edge/component
tables, the IVF stages) are deliberately untracked and must survive a
reap.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from clean_census_acs_data_spark import session as S


def _tracked_len() -> int:
    return len(S._TRACKED_CACHES)


def test_tracked_cache_registers_and_reap_unpersists(spark):
    df = spark.range(100).select(F.col("id") * 2)
    before = _tracked_len()
    cached = S.tracked_cache(df)
    assert _tracked_len() == before + 1
    cached.count()  # materialize
    assert cached.storageLevel.useMemory
    reaped = S.reap_tracked_caches()
    assert reaped >= 1
    assert _tracked_len() == 0
    # unpersisted: the storage level is back to NONE
    assert not cached.storageLevel.useMemory


def test_reap_is_idempotent_and_safe_when_empty(spark):
    S.reap_tracked_caches()
    assert S.reap_tracked_caches() == 0


def test_shared_memos_survive_reap(spark):
    """The dedup family's session-shared pair table must keep its
    blocks across a reap — it is NOT entry-local (VERDICT r8: the
    r8 family-sharing wins depend on it)."""
    from clean_census_acs_data_spark.operators import dedup as D

    sf = "/root/testdata/sf0.001"
    pairs = D.standard_near_dup_pairs(spark, sf, threshold=0.5)
    n = pairs.count()  # materializes the memoized cache
    S.reap_tracked_caches()
    # memo still present and still answers without error
    assert pairs.count() == n


def test_entry_with_tracked_cache_still_correct(spark):
    """A representative converted entry (tpch_q21_waiting_suppliers
    caches its joined line table through tracked_cache; market_basket
    _lift lost its cache in the r12 in-row-pairs rewrite) returns
    identical results before and after a reap cycle."""
    from clean_census_acs_data_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    name = "tpch_q21_waiting_suppliers"
    a = sorted(map(tuple, QUERIES[name](spark, sf).collect()))
    S.reap_tracked_caches()
    b = sorted(map(tuple, QUERIES[name](spark, sf).collect()))
    S.reap_tracked_caches()
    assert a == b and len(a) > 0


def _consumers(c, n: int):
    """One query that reads all of the cached frame ``c`` from ``n``
    subtrees that share no exchange: one aggregate, a join of the frame
    to its own per-key aggregate, or four different aggregates under a
    union. Uncached, each subtree evaluates the input again."""
    if n == 2:
        return c.join(c.groupBy("k").agg(F.max("v").alias("m")), "k")
    aggs = [F.sum("v"), F.max("v"), F.min("v"), F.count("v")][:n]
    out = c.agg(aggs[0].alias("s"))
    for a in aggs[1:]:
        out = out.unionAll(c.agg(a.alias("s")))
    return out


@pytest.mark.parametrize("n", [1, 2, 4])
def test_lazy_cache_fills_once_for_sibling_consumers(spark, n):
    """The engine property session.py's fill rule rests on: a lazily
    filled tracked_cache frame read by several subtrees of ONE query
    evaluates its input exactly once per row, so sibling consumers do
    not race its fill into recomputing it. A Python UDF feeding an
    accumulator counts the evaluations of the cached input."""
    n_rows = 20_000
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    probe = F.udf(tick, "long")
    c = S.tracked_cache(
        spark.range(n_rows, numPartitions=4).select(F.col("id").alias("k"), probe("id").alias("v"))
    )
    try:
        _consumers(c, n).collect()
        assert acc.value == n_rows
    finally:
        S.reap_tracked_caches()


def test_median_ratio_vs_prev_gauge():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    prev = {
        "queries": {f"q{i}": 1.0 for i in range(10)},
        "secondary": {f"s{i}": 2.0 for i in range(10)},
    }
    # uniform 1.5x slowdown + one touched outlier → median stays 1.5
    cur_q = {f"q{i}": 1.5 for i in range(10)}
    cur_s = {f"s{i}": 3.0 for i in range(10)}
    cur_s["s0"] = 40.0  # a "touched" entry cannot move the median
    assert bench.median_ratio_vs_prev(prev, cur_q, cur_s) == 1.5
    # sub-0.2s prior entries are excluded (timer noise)
    prev_small = {"queries": {f"q{i}": 0.01 for i in range(20)}, "secondary": {}}
    assert (
        bench.median_ratio_vs_prev(prev_small, {f"q{i}": 1.0 for i in range(20)}, {})
        is None
    )
    # too few overlapping keys → None
    assert bench.median_ratio_vs_prev({"queries": {}}, {"a": 1.0}, {}) is None


def test_pinned_ratio_vs_prev_gauge():
    """VERDICT r9 #3: the pinned sentinel ratio reads only trivial
    untouched plans, so heavy entries cannot move it. It is recorded in
    the artifact and gates no write."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod2", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    pins = bench.PINNED_SENTINELS
    assert len(pins) >= 10
    prev = {"queries": {k: 0.5 for k in pins}, "secondary": {}}
    # quiet box: sentinels ~1.0x, heavy entries 3x cannot move the gauge
    cur = {k: 0.55 for k in pins}
    cur["dedup_ngram_jaccard"] = 40.0
    assert bench.pinned_ratio_vs_prev(prev, cur, {}) == 1.1
    # skewed box: sentinels 1.5x
    assert bench.pinned_ratio_vs_prev(prev, {k: 0.75 for k in pins}, {}) == 1.5
    # sub-0.15s prior sentinels are timer noise -> excluded -> None
    prev_small = {"queries": {k: 0.01 for k in pins}, "secondary": {}}
    assert bench.pinned_ratio_vs_prev(prev_small, {k: 1.0 for k in pins}, {}) is None
    # every sentinel is a real registered query (list can't rot)
    from clean_census_acs_data_spark.queries import QUERIES

    assert all(k in QUERIES for k in pins)


def test_teardown_shared_memos_unpersists_and_clears(spark):
    """ADVICE r9: reap-exempt memos need an explicit end-of-session /
    pre-clearCache teardown path. teardown_shared_memos() unpersists
    the cached frames, clears every registered memo dict, and the next
    access re-fills cleanly (fresh handle, same rows)."""
    from clean_census_acs_data_spark.operators import dedup as D

    sf = "/root/testdata/sf0.001"
    sh1 = D.standard_shingle_table(spark, sf)
    n = sh1.count()
    assert sh1.storageLevel.useMemory
    freed = S.teardown_shared_memos()
    assert freed >= 1
    assert not sh1.storageLevel.useMemory
    # idempotent + safe when empty
    assert S.teardown_shared_memos() == 0
    # next access re-fills: NEW handle, identical contents
    sh2 = D.standard_shingle_table(spark, sf)
    assert sh2 is not sh1
    assert sh2.count() == n and sh2.storageLevel.useMemory


def test_knn_memo_teardown_frees_internal_cache(spark):
    """The IVF stages memo keeps its internal cached `sel` stage so
    teardown can actually free blocks (the returned probe/candidate
    frames are uncached derivations)."""
    from clean_census_acs_data_spark import queries_vectors as R7

    sf = "/root/testdata/sf0.001"
    probe_rows, _ = R7._knn_ivf_stages(spark, sf)
    stages = R7._ivf_stages(spark, sf, None, R7._KNN_CAP, 1)
    assert stages[0] is probe_rows  # one memo entry behind both calls
    sel = stages[2]
    assert sel.storageLevel.useMemory
    S.teardown_shared_memos()
    assert not sel.storageLevel.useMemory
    assert R7._knn_ivf_stages(spark, sf)[0] is not probe_rows


def _responses(spark, sf, spelled):
    from clean_census_acs_data_spark.plans import census_pipeline as CP
    from clean_census_acs_data_spark.sources import census as C
    from clean_census_acs_data_spark.sources.fake_census import fake_census_fetcher

    variables = tuple(C.DATASETS["dp02"]["variables"])
    if spelled:
        return CP._fetched_responses(
            spark, table_name="dp02", year=2023, chunk_size=3, variables=variables,
            geo_for="tract:*", fetcher=fake_census_fetcher,
        )
    return CP._fetched_responses(spark, "dp02", 2023, 3, variables, "tract:*", fake_census_fetcher)


def _dedup(name, first=(), spelled=()):
    """A dedup memo called as ``f(spark, sf, **first)`` and, spelled
    out, as ``f(spark, sf_dir=sf, **spelled)``."""
    def call(spark, sf, spell):
        from clean_census_acs_data_spark.operators import dedup as D

        fn = getattr(D, name)
        if spell:
            return fn(spark, sf_dir=sf, **dict(spelled))
        return fn(spark, sf, **dict(first))

    return call


def _ivf_stages(spark, sf, spelled):
    from clean_census_acs_data_spark import queries_vectors as R7

    if spelled:
        return R7._knn_ivf_stages(spark, sf, None, R7._KNN_CAP, 1)
    return R7._knn_ivf_stages(spark, sf)


def _events_schema(spark, sf, spelled):
    from clean_census_acs_data_spark.streaming import windows

    if spelled:
        return windows._events_schema(spark, sf_dir=sf)
    return windows._events_schema(spark, sf)


def _stage_dir(spark, sf, spelled):
    from clean_census_acs_data_spark.streaming import stateful

    if spelled:
        return stateful.staged_events_dir(spark, sf, 2, extra_cols=())
    return stateful.staged_events_dir(spark, sf, 2)


def _staged_schema(spark, sf, spelled):
    from clean_census_acs_data_spark.streaming import stateful

    stage = stateful.staged_events_dir(spark, sf, 2)
    if spelled:
        return stateful._staged_schema(spark, stage=stage)
    return stateful._staged_schema(spark, stage)


MEMOIZED = {
    "census_responses": _responses,
    "shingles": _dedup("standard_shingle_table"),
    "signatures": _dedup("standard_minhash_signatures"),
    # at threshold 0.0 the public pair table is the memoized superset
    "pair_superset": _dedup(
        "standard_near_dup_pairs", [("threshold", 0.0)], [("threshold", 0.0)]
    ),
    "undirected_edges": _dedup("standard_undirected_edges", spelled=[("threshold", 0.5)]),
    "components": _dedup("standard_components"),
    "ivf_stages": _ivf_stages,
    "events_schema": _events_schema,
    "stage_dir": _stage_dir,
    "staged_schema": _staged_schema,
}


def _same(a, b) -> bool:
    if isinstance(a, tuple):  # _knn_ivf_stages slices the memoized triple
        return len(a) == len(b) and all(x is y for x, y in zip(a, b))
    return a is b


@pytest.mark.parametrize("unit", sorted(MEMOIZED))
def test_shared_memo_hits_then_refills_after_teardown(spark, sf_dir, unit):
    """Every memoized unit: a second call with equal arguments (spelled
    out, defaults included) returns the identical object and starts no
    Spark job; after teardown_shared_memos() the next call refills."""
    call = MEMOIZED[unit]
    first = call(spark, sf_dir, False)
    sc = spark.sparkContext
    group = f"memo-hit-{unit}"
    sc.setJobGroup(group, group)
    try:
        again = call(spark, sf_dir, True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _same(again, first)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    S.teardown_shared_memos()
    assert not _same(call(spark, sf_dir, False), first)
    S.teardown_shared_memos()


def test_shingle_and_signature_memos_are_shared_and_reap_exempt(spark):
    """Round-9 memos: the shingle and signature stages are session-
    shared (reap-exempt) and return the SAME DataFrame handle per
    (session, sf_dir) — the fix for entries that only looked cheap
    while CacheManager substituted an earlier entry's private cache."""
    from clean_census_acs_data_spark.operators import dedup as D

    sf = "/root/testdata/sf0.001"
    sh1 = D.standard_shingle_table(spark, sf)
    sh2 = D.standard_shingle_table(spark, sf)
    assert sh1 is sh2  # memoized handle, not a rebuilt plan
    sig1 = D.standard_minhash_signatures(spark, sf)
    assert sig1 is D.standard_minhash_signatures(spark, sf)
    assert sh1.storageLevel.useMemory and sig1.storageLevel.useMemory
    n_sh, n_sig = sh1.count(), sig1.count()
    S.reap_tracked_caches()
    # still cached after a reap (session-shared artifacts, by design)
    assert sh1.storageLevel.useMemory and sig1.storageLevel.useMemory
    assert sh1.count() == n_sh and sig1.count() == n_sig
    # the signature table is exactly one row per shingled doc
    assert n_sig == n_sh


def test_round_keyed_stamp_refuses_unparsed_cpus():
    """The canonical-CPU guard refuses the round-keyed write unless
    SPARK_GRAFT_CPUS parses as an integer equal to the canonical count:
    a value such as "8x" or "" leaves the run's core count unknown."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod_cpus", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    assert bench.canonical_cpus("32")
    for value in ("8", "8x", " 8", " 32", "", "32.0"):
        assert not bench.canonical_cpus(value), value


def _bench_module():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod_stamp", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


@pytest.mark.parametrize(
    "sf, cpus, files, reason",
    [
        (0.001, "32", [], "sf=0.001 is not the canonical round scale"),
        (0.1, "8", [], "cpus='8' is not the canonical core count"),
        (0.1, "32", ["BENCH_r07.json"], "round 7 is closed (BENCH_r07.json exists)"),
        (0.1, "32", ["BENCH_r7.json"], "round 7 is closed (BENCH_r7.json exists)"),
        (0.1, "32", ["BENCH_FULL_r07.json"], "BENCH_FULL_r07.json already exists"),
        (0.1, "32", ["BENCH_r06.json", "BENCH_FULL_r06.json"], None),
    ],
    ids=["sf", "cpus", "closed-padded", "closed-unpadded", "stamped", "write"],
)
def test_round_stamp_refusal(tmp_path, sf, cpus, files, reason):
    """One rule decides the round-keyed write: refuse a non-canonical SF
    or core count, a closed round (its BENCH_r{N}.json exists, padded
    or not) and an existing stamp — the first canonical stamp of
    an open round is final. Earlier rounds' files do not block round 7."""
    bench = _bench_module()
    for name in files:
        (tmp_path / name).write_text("{}")
    got = bench.round_stamp_refusal(str(tmp_path), sf, cpus, 7)
    if reason is None:
        assert got is None
    else:
        assert got is not None and got.startswith(reason), got
