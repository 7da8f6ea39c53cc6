"""Property/equivalence tests for the custom operators whose logic
lives outside Catalyst: the stateful sessionizer kernel (pure Python —
hypothesis over random event streams), salted join vs plain join, and
connected components vs a union-find reference."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clean_census_acs_data_spark.io import load_table

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# sessionizer kernel (no Spark needed: _sessionize_fn is a pure function)
# ---------------------------------------------------------------------------


class _FakeState:
    """Minimal GroupState stand-in for driving the kernel directly."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _reference_sessions(ts_list_us: list[int], gap_us: int):
    """Plain-Python sessionization: sorted events split where the gap
    exceeds gap_us; returns [(start, end, n)] for CLOSED sessions and
    the trailing open one separately."""
    closed, cur = [], None
    for t in sorted(ts_list_us):
        if cur is None:
            cur = [t, t, 1]
        elif t - cur[1] <= gap_us:
            cur[1], cur[2] = t, cur[2] + 1
        else:
            closed.append(tuple(cur))
            cur = [t, t, 1]
    return closed, tuple(cur) if cur else None


@given(
    ts=st.lists(
        st.integers(min_value=0, max_value=10**7), min_size=1, max_size=60
    ),
    gap_ms=st.sampled_from([60_000, 1_800_000]),
)
@settings(max_examples=200, deadline=None)
def test_sessionizer_kernel_matches_reference(ts, gap_ms):
    from clean_census_acs_data_spark.streaming.stateful import _sessionize_fn

    # event times in µs spread over ~ hours
    ts_us = [t * 1000 for t in ts]
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(pd.Series(ts_us), unit="us"),
            "value_cents": [1] * len(ts_us),
        }
    )
    state = _FakeState()
    out = list(_sessionize_fn(gap_ms)((7,), [pdf], state))
    got_closed = []
    for o in out:
        for _, r in o.iterrows():
            got_closed.append(
                (r.session_start.value // 1000, r.session_end.value // 1000, r.n_events)
            )
    want_closed, want_open = _reference_sessions(ts_us, gap_ms * 1000)
    assert got_closed == [(s, e, n) for s, e, n in want_closed]
    # trailing session must be held in state, not emitted
    assert state.exists
    s0, e0, n0, _cents = state.get
    assert (s0, e0, n0) == want_open


@given(
    ts=st.lists(st.integers(min_value=0, max_value=10**7), min_size=2, max_size=60),
    gap_ms=st.sampled_from([60_000, 1_800_000]),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_sessionizer_kernel_chunk_invariant(ts, gap_ms, data):
    """Arrow delivers a key's micro-batch as multiple chunks with no
    cross-chunk ordering; the fold must be invariant to how rows are
    split into chunks (regression: per-chunk sorting let a later chunk
    with earlier timestamps corrupt session bounds)."""
    from clean_census_acs_data_spark.streaming.stateful import _sessionize_fn

    ts_us = [t * 1000 for t in ts]
    # adversarial chunking: shuffle rows, then split at arbitrary points
    perm = data.draw(st.permutations(ts_us))
    n_cuts = data.draw(st.integers(min_value=1, max_value=min(4, len(perm) - 1)))
    cuts = sorted(data.draw(
        st.lists(st.integers(min_value=1, max_value=len(perm) - 1),
                 min_size=n_cuts, max_size=n_cuts)
    ))
    bounds = [0, *cuts, len(perm)]
    chunks = []
    for a, b in zip(bounds, bounds[1:]):
        part = perm[a:b]
        chunks.append(pd.DataFrame({
            "ts": pd.to_datetime(pd.Series(part, dtype="int64"), unit="us"),
            "value_cents": [1] * len(part),
        }))
    state = _FakeState()
    out = list(_sessionize_fn(gap_ms)((7,), chunks, state))
    got_closed = []
    for o in out:
        for _, r in o.iterrows():
            got_closed.append(
                (r.session_start.value // 1000, r.session_end.value // 1000, r.n_events)
            )
    want_closed, want_open = _reference_sessions(ts_us, gap_ms * 1000)
    assert got_closed == [(s, e, n) for s, e, n in want_closed]
    assert state.exists
    s0, e0, n0, _cents = state.get
    assert (s0, e0, n0) == want_open


def test_sessionizer_kernel_timeout_emits_and_clears():
    from clean_census_acs_data_spark.streaming.stateful import _sessionize_fn

    state = _FakeState()
    state.update((1_000_000, 2_000_000, 3, 42))
    state.hasTimedOut = True
    out = list(_sessionize_fn(60_000)((5,), [], state))
    assert len(out) == 1 and len(out[0]) == 1
    row = out[0].iloc[0]
    assert (row.user_id, row.n_events, row.value_cents) == (5, 3, 42)
    assert not state.exists  # state cleared after emission


# ---------------------------------------------------------------------------
# salted join ≡ plain join
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("buckets", [1, 4, 16])
def test_salted_join_equals_plain_join(spark, buckets):
    from clean_census_acs_data_spark.operators.skew import salted_join

    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = load_table(spark, SF, "orders").where(F.col("o_orderkey") % 51 == 0).select(
        "o_orderkey", "o_orderpriority"
    )
    plain = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_orderpriority"
    )
    salted = salted_join(
        li,
        o,
        large_key="l_orderkey",
        small_key="o_orderkey",
        salt_col=F.col("l_linenumber"),
        salt_buckets=buckets,
    ).select("l_orderkey", "l_linenumber", "o_orderpriority")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    from clean_census_acs_data_spark.operators.skew import salted_join

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_linenumber")
    o = load_table(spark, SF, "orders").where(F.col("o_orderkey") % 51 == 0).select(
        "o_orderkey", "o_orderpriority"
    )
    left = salted_join(
        li, o, large_key="l_orderkey", small_key="o_orderkey",
        salt_col=F.col("l_linenumber"), salt_buckets=8, how="left",
    )
    assert left.count() == li.count()  # 1:1 on the pk side → row-preserving


def test_salted_join_negative_salt_source(spark):
    """A hash-derived salt column is negative ~half the time; pmod must
    map it into [0, buckets) or inner-join rows silently vanish
    (regression for the % sign bug)."""
    from clean_census_acs_data_spark.operators.skew import salted_join

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_linenumber")
    o = load_table(spark, SF, "orders").where(F.col("o_orderkey") % 51 == 0).select(
        "o_orderkey", "o_orderpriority"
    )
    plain_n = li.join(o, li.l_orderkey == o.o_orderkey).count()
    salted_n = salted_join(
        li, o, large_key="l_orderkey", small_key="o_orderkey",
        salt_col=F.xxhash64("l_orderkey", "l_linenumber"), salt_buckets=8,
    ).count()
    assert salted_n == plain_n


def test_salted_sum_count_negative_salt_source(spark):
    from clean_census_acs_data_spark.operators.skew import salted_sum_count

    li = load_table(spark, SF, "lineitem")
    got = salted_sum_count(
        li, ["l_returnflag"],
        salt_col=F.xxhash64("l_orderkey"), salt_buckets=8,
        sum_exprs={"sum_qty": F.col("l_quantity").cast("long")},
    )
    want = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# ---------------------------------------------------------------------------
# range_count_join: duplicate left rows and pre-epoch timestamps
# ---------------------------------------------------------------------------


def test_range_count_join_duplicate_left_rows(spark):
    """Fully-identical left rows must each produce their own output row
    with the per-row count (regression: grouping on left columns alone
    collapsed duplicates and inflated counts)."""
    import datetime

    from clean_census_acs_data_spark.operators.asof import range_count_join

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, t0), (1, t0), (2, t0)], ["k", "ts"]
    )
    right = spark.createDataFrame(
        [(1, t0 - datetime.timedelta(minutes=10)),
         (1, t0 - datetime.timedelta(minutes=20)),
         (2, t0 - datetime.timedelta(minutes=5))],
        ["k", "ts"],
    )
    out = range_count_join(
        left, right, key="k", window_us=3_600_000_000, out_col="n"
    ).collect()
    assert sorted((r.k, r.n) for r in out) == [(1, 2), (1, 2), (2, 1)]


def test_range_count_join_pre_epoch_timestamps(spark):
    """Negative-µs timestamps: right bucketing must use floor division
    like the left probe (regression: % truncation toward zero put
    pre-epoch right rows one bucket too high and matches were missed)."""
    import datetime

    from clean_census_acs_data_spark.operators.asof import range_count_join

    t0 = datetime.datetime(1969, 12, 31, 23, 30, 0)  # pre-epoch
    left = spark.createDataFrame([(1, t0)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, t0 - datetime.timedelta(minutes=10)),
         (1, t0 - datetime.timedelta(minutes=90))],  # outside window
        ["k", "ts"],
    )
    out = range_count_join(
        left, right, key="k", window_us=3_600_000_000, out_col="n"
    ).collect()
    assert [(r.k, r.n) for r in out] == [(1, 1)]


# ---------------------------------------------------------------------------
# connected components ≡ union-find
# ---------------------------------------------------------------------------


def test_components_match_union_find(spark):
    import random

    from clean_census_acs_data_spark.operators.components import connected_components

    rng = random.Random(42)
    verts = list(range(200))
    edges = [(rng.choice(verts), rng.choice(verts)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    in_edges = {v for e in edges for v in e}
    want = {}
    for v in in_edges:
        want[v] = min(u for u in in_edges if find(u) == find(v))

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.doc_id: r.component_id for r in connected_components(df).collect()}
    assert got == want


def test_components_match_union_find_rounds(spark, cc_rounds):
    test_components_match_union_find(spark)


def test_components_long_chain_converges(spark):
    """A 300-node path is the adversarial case for plain label
    propagation (needs 299 rounds); pointer jumping must close it
    within the 20-round cap (O(log diameter))."""
    from clean_census_acs_data_spark.operators.components import connected_components

    edges = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.doc_id: r.component_id for r in connected_components(df).collect()}
    assert got == {v: 0 for v in range(301)}


def test_components_long_chain_converges_rounds(spark, cc_rounds):
    test_components_long_chain_converges(spark)


_VERTEX = st.one_of(st.none(), st.integers(0, 12))


@given(edges=st.lists(st.tuples(_VERTEX, _VERTEX), max_size=24))
@example(edges=[])
@example(edges=[(1, None), (2, 3), (None, 4), (5, 5)])
@settings(max_examples=8, deadline=None)
def test_components_driver_path_equals_rounds(spark, edges):
    """Both connected-components functions give the same rows and
    schema on the driver path as on the distributed rounds, on edge
    lists with duplicates, reversed edges, self-loops and NULL
    endpoints (small ids over a small range make all of them common),
    and on the empty list."""
    from clean_census_acs_data_spark.operators import components

    def rows(out):
        return sorted(map(tuple, out.collect()), key=repr)

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    for fn in (
        components.connected_components,
        components.connected_components_two_phase,
    ):
        driver = fn(df)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(components, "_DRIVER_MAX_EDGES", -1)
            rounds = fn(df)
        assert driver.schema == rounds.schema, fn.__name__
        assert rows(driver) == rows(rounds), fn.__name__


def test_components_small_graph_is_one_job(spark):
    """Below the driver bound connected_components runs exactly one
    Spark job: the collect of the edge list."""
    from clean_census_acs_data_spark.operators.components import connected_components

    sc = spark.sparkContext
    df = spark.range(40).select(
        (F.col("id") % 30).alias("doc_a"), (F.col("id") * 7 % 30).alias("doc_b")
    )
    group = "cc-small-graph-one-job"
    sc.setJobGroup(group, group)
    try:
        out = connected_components(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert out.count() == 30


# ---------------------------------------------------------------------------
# ANN variants are honest: scores match brute force on shared ids
# ---------------------------------------------------------------------------


def test_ann_scores_agree_with_brute_force(spark):
    """LSH and IVF prune candidates (recall < 1 by design) but must
    never change a score: every (vec_id, cosine) they return has to
    appear with the identical cosine in the exhaustive scoring."""
    from clean_census_acs_data_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    emb = load_table(spark, SF, "embeddings")
    exact = {
        r.vec_id: r.cosine
        for r in brute_force_topk(emb, query_id=0, k=10**6).collect()
    }
    for name, approx in [
        ("lsh", lsh_topk(emb, query_id=0, k=5)),
        ("ivf", ivf_topk(emb, query_id=0, k=5)),
    ]:
        rows = approx.collect()
        assert rows, name
        for r in rows:
            assert r.vec_id in exact, (name, r.vec_id)
            assert r.cosine == exact[r.vec_id], (name, r.vec_id)  # bit-equal


def test_components_reliable_checkpoint_dir(spark, tmp_path, cc_rounds):
    """Same result through the reliable .checkpoint() path (the 100-TB
    durability option, VERDICT r1 #4) as through localCheckpoint. The
    checkpoint dir is only used by the distributed rounds, so the test
    forces them."""
    from clean_census_acs_data_spark.operators.components import connected_components

    edges = [(i, i + 1) for i in range(50)] + [(100, 200), (200, 300)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r.doc_id: r.component_id
        for r in connected_components(
            df, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    want = {v: 0 for v in range(51)} | {100: 100, 200: 100, 300: 100}
    assert got == want
    # the checkpoint dir must actually have been used
    import os
    assert any(os.scandir(tmp_path / "ckpt"))


# ---------------------------------------------------------------------------
# merge_upsert ≡ dict-based reference
# ---------------------------------------------------------------------------


@given(
    base=st.dictionaries(st.integers(0, 30), st.integers(-5, 5), max_size=15),
    upserts=st.dictionaries(st.integers(0, 40), st.integers(-5, 5), max_size=10),
    deletes=st.sets(st.integers(0, 40), max_size=6),
)
@settings(max_examples=20, deadline=None)
def test_merge_upsert_matches_dict_semantics(base, upserts, deletes, merge_spark):
    from clean_census_acs_data_spark.operators.merge import merge_upsert
    import pyspark.sql.functions as SF

    deletes = deletes - set(upserts)  # change set unique per key
    want = dict(base)
    want.update(upserts)
    for k in deletes:
        want.pop(k, None)

    spark = merge_spark
    b = spark.createDataFrame(
        [(k, v, f"name{k}") for k, v in base.items()] or [(None, None, None)],
        "k long, v long, name string",
    ).where(SF.col("k").isNotNull())
    ch_rows = [(k, v, False) for k, v in upserts.items()] + [
        (k, 0, True) for k in deletes
    ]
    c = spark.createDataFrame(
        ch_rows or [(None, None, None)], "k long, v long, is_delete boolean"
    ).where(SF.col("k").isNotNull())
    got = {
        r.k: (r.v, r.name)
        for r in merge_upsert(b, c, key="k", delete_col="is_delete").collect()
    }
    assert set(got) == set(want)
    for k, (v, name) in got.items():
        assert v == want[k], k
        # base-only column: survives updates, NULL on fresh inserts
        assert name == (f"name{k}" if k in base else None), k


@pytest.fixture(scope="module")
def merge_spark(spark):
    return spark


# ---------------------------------------------------------------------------
# ngram_jaccard_pairs ≡ brute-force set reference (heavy/light split kernel)
# ---------------------------------------------------------------------------


@given(
    texts=st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=12), min_size=2, max_size=12
    ),
    n_blocks=st.integers(1, 3),
    threshold=st.sampled_from([0.0, 0.3, 0.7]),
)
@settings(max_examples=15, deadline=None)
def test_ngram_jaccard_matches_bruteforce(texts, n_blocks, threshold, merge_spark):
    """The complement-counting kernel must equal the naive set-Jaccard
    over every block pair — including threshold 0, docs containing all
    of a block's heavy grams, docs missing all of them, and blocks of
    size 1. Tiny alphabet forces many heavy (shared-by-most) grams."""
    from clean_census_acs_data_spark.operators.dedup import ngram_jaccard_pairs

    spark = merge_spark
    rows = [(i, t, f"b{i % n_blocks}") for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, block_col="source", n=3, threshold=threshold
        ).collect()
    }

    def grams(t):
        return {t[i : i + 3] for i in range(max(len(t) - 2, 0))}

    want = {}
    for i, ti, bi in rows:
        for j, tj, bj in rows:
            if i >= j or bi != bj:
                continue
            gi, gj = grams(ti), grams(tj)
            if not gi or not gj:
                continue
            jac = len(gi & gj) / len(gi | gj)
            if jac >= threshold:
                want[(i, j)] = jac
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12, k


def test_shingles_short_input_empty(merge_spark):
    """Regression: token lists shorter than n must give an EMPTY
    shingle array, not phantom partial shingles from Spark's
    descending sequence(1, 0)."""
    from clean_census_acs_data_spark.operators.text import shingles, tokens

    spark = merge_spark
    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two three"), (3, "")], "id long, text string"
    ).select("id", shingles(tokens("text"), 3).alias("sh"))
    got = {r.id: r.sh for r in df.collect()}
    assert got[1] == []
    assert got[2] == ["one two three"]
    assert got[3] == []


# ---------------------------------------------------------------------------
# corpus kernels vs brute-force Python references
# ---------------------------------------------------------------------------


def _ref_repetition(texts: dict[int, str], n: int = 2):
    out = {}
    for doc_id, text in texts.items():
        toks = text.split(" ")
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)] \
            if len(toks) >= n else []
        from collections import Counter

        c = Counter(grams)
        total = sum(c.values())
        out[doc_id] = {
            "n_grams": total,
            "n_distinct_grams": len(c),
            "top_gram_count": max(c.values()) if c else 0,
            "dup_gram_occurrences": sum(v for v in c.values() if v >= 2),
        }
    return out


@pytest.mark.usefixtures("spark")
@settings(max_examples=12, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=50),
        st.lists(
            st.sampled_from(["a", "b", "ab", "ba", "x"]), min_size=0, max_size=12
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
def test_repetition_matches_reference(spark, texts):
    from clean_census_acs_data_spark.operators.corpus import repetition_metrics

    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_metrics(docs, n=2).collect()
    }
    ref = _ref_repetition(texts)
    for doc_id, exp in ref.items():
        for k, v in exp.items():
            assert got[doc_id][k] == v, (doc_id, k)


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=40), min_size=1, max_size=20
    ),
    st.integers(min_value=2, max_value=16),
)
def test_pack_sequences_matches_reference(spark, lengths, window):
    from clean_census_acs_data_spark.operators.corpus import pack_sequences_greedy

    rows = [(i, " ".join(["t"] * ln), "s") for i, ln in enumerate(lengths)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["doc_id"]: (r["bin_id"], r["bin_offset"])
        for r in pack_sequences_greedy(docs, window_tokens=window).collect()
    }
    cum = 0
    for i, ln in enumerate(lengths):
        assert got[i] == (cum // window, cum % window), i
        cum += ln


def test_interval_overlap_bucketing_matches_brute_force(spark):
    """The time-bucketed interval self-join must equal the brute-force
    O(n²) join on adversarial inputs: one hot user with many events,
    timestamps exactly on bucket boundaries (s % W == 0), duplicate
    timestamps, and gaps of exactly W (inclusive-overlap edge)."""
    import itertools

    from pyspark.sql import functions as F

    W = 5 * 60 * 1_000_000  # 5 minutes in µs, the query's window
    base = 1_700_000_000_000_000
    # user 1: hot, boundary-aligned and off-boundary mix; user 2: sparse
    starts = (
        [base + i * (W // 3) for i in range(40)]          # dense overlaps
        + [base + i * W for i in range(10)]               # exactly W apart
        + [base + 7 * W, base + 7 * W]                    # duplicate ts
    )
    rows = [(i + 1, 1, s) for i, s in enumerate(starts)]
    rows += [(1000 + i, 2, base + i * 3 * W) for i in range(5)]  # no overlaps
    df = spark.createDataFrame(rows, "event_id long, user_id long, s long")

    def brute(rows):
        out = set()
        for (ida, ua, sa), (idb, ub, sb) in itertools.combinations(rows, 2):
            if ua != ub or ida == idb:
                continue
            a, b = (ida, sa), (idb, sb)
            if ida > idb:
                a, b = b, a
            if a[1] <= b[1] + W and b[1] <= a[1] + W:
                out.add((ua, a[0], b[0], min(a[1] + W, b[1] + W) - max(a[1], b[1])))
        return out

    # mirror of queries_events.interval_overlap_join's bucketed plan
    ev = df.select(
        "user_id",
        "event_id",
        F.col("s"),
        (F.col("s") + F.lit(W)).alias("e"),
        F.expr(f"s div {W}").alias("bkt"),
    )
    expl = ev.withColumn("k", F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)))
    a, b = expl.alias("a"), expl.alias("b")
    got = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.k") == F.col("b.k"))
            & (F.col("a.k") == F.greatest(F.col("a.bkt"), F.col("b.bkt")))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.user_id"),
            F.col("a.event_id").alias("ea"),
            F.col("b.event_id").alias("eb"),
            (
                F.least(F.col("a.e"), F.col("b.e"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
            ).alias("ov"),
        )
        .collect()
    )
    got_set = {(r["user_id"], r["ea"], r["eb"], r["ov"]) for r in got}
    assert len(got) == len(got_set), "bucketing emitted a duplicate pair"
    assert got_set == brute(rows)
