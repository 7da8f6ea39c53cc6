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


def test_pinned_ratio_gauge_and_skew_refusal():
    """VERDICT r9 #3: the pinned sentinel gauge reads pure box skew
    (trivial untouched plans only) and gates the round-keyed artifact
    write at PINNED_SKEW_BOUND."""
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
    assert not bench.refuse_round_artifact(1.1)
    # skewed box: sentinels 1.5x -> refuse
    assert bench.pinned_ratio_vs_prev(prev, {k: 0.75 for k in pins}, {}) == 1.5
    assert bench.refuse_round_artifact(1.5)
    assert not bench.refuse_round_artifact(None)  # no prior artifact: stamp
    assert not bench.refuse_round_artifact(bench.PINNED_SKEW_BOUND)  # bound inclusive
    # ADVICE r10: a FORCE-stamped baseline (its own gauge recorded at
    # stamp time) chains into the refusal — a 0.9x gauge against a
    # baseline stamped at 1.6x is really 1.44x vs the last honest round
    assert bench.refuse_round_artifact(0.9, 1.6)
    # and an honest run against an honest baseline is unchanged
    assert not bench.refuse_round_artifact(0.9, None)
    assert not bench.refuse_round_artifact(1.1, 1.0)
    # sub-0.15s prior sentinels are timer noise -> excluded -> None
    prev_small = {"queries": {k: 0.01 for k in pins}, "secondary": {}}
    assert bench.pinned_ratio_vs_prev(prev_small, {k: 1.0 for k in pins}, {}) is None
    # every sentinel is a real registered query (list can't rot)
    from clean_census_acs_data_spark.queries import QUERIES

    assert all(k in QUERIES for k in pins)


def test_seal_guard_covers_inferred_round_path():
    """VERDICT r11 #1: the seal guard must protect an EXISTING
    round-keyed artifact regardless of whether the round number came
    from SPARK_GRAFT_ROUND or from inference — the r11 driver bench hit
    the inference path and overwrote the sealed honest 27.49 s stamp
    (pinned 1.043) with a 1.19×-hot 37.30 s one. Unforced overwrite is
    allowed only when the new stamp's effective pinned gauge is no
    worse (log distance from 1.0) than the sealed stamp's."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod3", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    honest = {"pinned_ratio_vs_prev": 1.043}
    hot = {"pinned_ratio_vs_prev": 1.1885}
    # the exact r11 incident: hot run against the sealed honest stamp
    assert not bench.seal_supersede_ok(honest, bench.effective_pinned_gauge(hot))
    # the recovery direction: honest rerun supersedes a hot stamp
    assert bench.seal_supersede_ok(hot, bench.effective_pinned_gauge(honest))
    # r13: a sealed QUIET stamp is final — even an exact-tie rerun is
    # refused (rerunning the bench must never be improving)
    assert not bench.seal_supersede_ok(honest, 1.043)
    # unknown gauges on either side refuse — can't prove better
    assert not bench.seal_supersede_ok(honest, None)
    assert not bench.seal_supersede_ok({}, 1.0)
    assert not bench.seal_supersede_ok({"pinned_ratio_vs_prev": None}, 1.0)
    # a FORCE-stamped seal compares through its recorded effective gauge
    forced = {"forced_stamp": True, "forced_stamp_pinned_ratio": 1.6}
    assert bench.seal_supersede_ok(forced, 1.2)
    assert not bench.seal_supersede_ok(forced, 1.7)
    # an honest stamp measured against a forced baseline chains too:
    # 0.9 × 1.6 = 1.44 effective
    chained = {"pinned_ratio_vs_prev": 0.9, "ratio_prev_stamp_ratio": 1.6}
    assert bench.effective_pinned_gauge(chained) == 0.9 * 1.6
    assert bench.seal_supersede_ok(chained, 1.2)
    assert not bench.seal_supersede_ok(chained, 1.5)
    # sub-1.0 sealed gauges are QUIET (the band is one-sided): final
    fast_box = {"pinned_ratio_vs_prev": 0.85}
    assert not bench.seal_supersede_ok(fast_box, 1.1)
    assert not bench.seal_supersede_ok(fast_box, 1.25)
    # the decision site no longer keys on how the round was derived
    with open(os.path.join(os.path.dirname(__file__), "..", "bench.py")) as f:
        src = f.read()
    assert "env_round.isdigit() and os.path.exists(round_path)" not in src
    assert "seal_supersede_ok(" in src
    # r12 review finding: a seal-only FORCE stamp (honest box, no
    # forced_stamp_pinned_ratio recorded by the r10 rule) must gauge
    # through its honest pinned chain, not None — otherwise a strictly
    # better honest rerun is refused forever.
    seal_only_forced = {"forced_stamp": True, "pinned_ratio_vs_prev": 1.12}
    assert bench.effective_pinned_gauge(seal_only_forced) == 1.12
    # ...and 1.12 is inside the quiet band, so the stamp is final (r13)
    assert not bench.seal_supersede_ok(seal_only_forced, 1.01)
    assert not bench.seal_supersede_ok(seal_only_forced, 1.3)
    # ...and chained through a forced baseline like any honest stamp
    seal_only_chained = {
        "forced_stamp": True,
        "pinned_ratio_vs_prev": 1.05,
        "ratio_prev_stamp_ratio": 1.2,
    }
    assert bench.effective_pinned_gauge(seal_only_chained) == 1.05 * 1.2
    # a forced stamp with NO gauge at all still refuses (can't compare)
    assert bench.effective_pinned_gauge({"forced_stamp": True}) is None
    assert not bench.seal_supersede_ok({"forced_stamp": True}, 1.0)


def test_seal_guard_refuses_closed_rounds_unconditionally():
    """r12 review finding: the gauge-only supersede rule regressed the
    stale-env protection — SPARK_GRAFT_ROUND left at a CLOSED round on
    a quiet box would relabel current-round-code timings as the old
    round. Once the driver's BENCH_r{N}.json exists, round N is closed
    and its BENCH_FULL_r{N} is immutable without FORCE; the gauge
    contest applies only to same-round re-stamps (the driver's
    post-close bench runs before BENCH_r{N} lands)."""
    import os

    with open(os.path.join(os.path.dirname(__file__), "..", "bench.py")) as f:
        src = f.read()
    # the identity check exists and wins over the gauge contest
    assert "round_closed" in src
    assert 'f"BENCH_r{cur:02d}.json"' in src
    assert "round_closed or not seal_supersede_ok(" in src
    # the supersede announcement moved after both guards (no longer
    # printed before the skew guard can still refuse the write)
    before_guards = src.index("skew_blocked = refuse_round_artifact")
    assert "superseding" not in src[:before_guards]


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
    assert not D._STD_SHINGLES_MEMO and not D._STD_SIG_MEMO
    # idempotent + safe when empty
    assert S.teardown_shared_memos() == 0
    # next access re-fills: NEW handle, identical contents
    sh2 = D.standard_shingle_table(spark, sf)
    assert sh2 is not sh1
    assert sh2.count() == n and sh2.storageLevel.useMemory


def test_teardown_surfaces_bad_handles_fn(spark):
    """ADVICE r10: a handles fn that yields non-DataFrames is a
    registration bug — teardown must raise TypeError, not swallow it
    into a silent leak with an undercounted return value."""
    import pytest

    df = spark.range(1).cache()
    memo = {"k": df}
    S.register_shared_memo(memo, handles=lambda v: ("not-a-dataframe",))
    try:
        with pytest.raises(TypeError, match="yielded non-DataFrame"):
            S.teardown_shared_memos()
        # the error must not abort the sweep: the poisoned memo is still
        # cleared so later memos got their teardown too (review r11)
        assert not memo
    finally:
        # remove the poisoned registration so later tests' teardowns work
        S._SHARED_MEMO_REGISTRY[:] = [
            (m, h) for (m, h) in S._SHARED_MEMO_REGISTRY if m is not memo
        ]
        df.unpersist()


def test_knn_memo_teardown_frees_internal_cache(spark):
    """The IVF stages memo stores its internal cached `sel` stage so
    teardown can actually free blocks (the returned probe/candidate
    frames are uncached derivations)."""
    from clean_census_acs_data_spark import queries_round7 as R7

    sf = "/root/testdata/sf0.001"
    R7._knn_ivf_stages(spark, sf)
    assert R7._KNN_STAGES_MEMO
    sel = next(iter(R7._KNN_STAGES_MEMO.values()))[2]
    assert sel.storageLevel.useMemory
    S.teardown_shared_memos()
    assert not R7._KNN_STAGES_MEMO
    assert not sel.storageLevel.useMemory


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


def test_seal_first_quiet_stamp_is_final():
    """r13 measurement fix (VERDICT r12 'What's wrong #2' / ask #3):
    the r12 rule let the lowest gauge-normalized total cost win within
    the quiet band, which made re-running the bench strictly improving
    — the sealed r12 stamp was the BEST of seven same-code runs
    spanning 32.3–46.4 s, a biased-low order statistic. Now the FIRST
    quiet-band stamp is final: no unforced supersede, cost arguments
    ignored; only a stamp taken on a skewed box (gauge outside the
    band) may be replaced, by the r11 gauge-distance recovery rule."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod4", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    quiet = {
        "pinned_ratio_vs_prev": 0.9813,
        "value": 46.434,
        "secondary_total": 485.9005,
    }
    # the r12 min-of-seven mechanism is dead: a cheaper quiet rerun no
    # longer supersedes a sealed quiet stamp, costs or not
    assert not bench.seal_supersede_ok(
        quiet, 0.9468, sealed_cost=532.3345, new_cost=411.5
    )
    assert not bench.seal_supersede_ok(quiet, 0.99)
    assert not bench.seal_supersede_ok(quiet, 1.0)
    # sub-1.0 sealed gauges count as quiet too (one-sided band)
    assert not bench.seal_supersede_ok(
        {"pinned_ratio_vs_prev": 0.857}, 1.0, sealed_cost=500.0, new_cost=300.0
    )
    # a sealed stamp OUTSIDE the band is replaceable, but only by a
    # gauge no further from 1.0 (the r11 recovery rule) — cost cannot
    # buy a win in either direction
    skewed = {"pinned_ratio_vs_prev": 1.1885, "value": 40.0, "secondary_total": 400.0}
    assert bench.seal_supersede_ok(skewed, 1.043)
    assert bench.seal_supersede_ok(skewed, 1.043, sealed_cost=440.0, new_cost=999.0)
    assert not bench.seal_supersede_ok(skewed, 1.3, sealed_cost=440.0, new_cost=1.0)
    # unknown gauges on either side still refuse
    assert not bench.seal_supersede_ok(skewed, None)
    assert not bench.seal_supersede_ok({}, 1.0)


def test_seal_round_keyed_stamp_requires_canonical_cpus():
    """r13: the driver's scaling probe re-runs bench at
    SPARK_GRAFT_CPUS=8; in r12 that post-close 8-core pass hit the
    round-inference path and occupied BENCH_FULL_r13.json — an 8-core
    stamp is not a valid 32-core cross-round baseline. bench.py now
    skips the round-keyed artifact (rolling file only) at any
    non-canonical core count, exactly like the non-canonical-SF guard,
    and records the run's cpus in the artifact."""
    import os

    with open(os.path.join(os.path.dirname(__file__), "..", "bench.py")) as f:
        src = f.read()
    assert "CANONICAL_BENCH_CPUS = 32" in src
    # the guard raises the same skip used by the SF guard, after it
    sf_guard = src.index("is not the canonical round scale")
    cpu_guard = src.index("is not the canonical core")
    assert cpu_guard > sf_guard
    assert src.count("raise _SkipRoundArtifact") >= 2
    # the artifact records the core count it was taken at
    assert '"cpus"' in src


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
