"""The driver samples the first 50 entries of ``queries()`` in
insertion order (verified against CORRECTNESS_r01..r03); the shim must
rotate never-attested entries into that window each round (VERDICT r3
ask #2) without losing or duplicating any registry entry."""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from clean_census_acs_data_spark.queries import ORACLES, QUERIES  # noqa: E402


def _attested() -> set[str]:
    out: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as f:
            out.update(json.load(f).keys())
    return out


def _latest_rows() -> dict[str, dict]:
    """Newest-round-wins merge of every CORRECTNESS artifact, mirroring
    the shim's numeric merge order (so expectations are DERIVED from the
    artifacts on disk, never hard-coded — a post-close driver write must
    not redden this suite; VERDICT r4 ask #1)."""
    import re

    def rnd(p: str) -> int:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(p))
        return int(m.group(1)) if m else -1

    latest: dict[str, dict] = {}
    for path in sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")), key=rnd
    ):
        with open(path) as f:
            latest.update(json.load(f))
    return latest


def test_rotation_is_a_permutation():
    assert sorted(entrymod.queries()) == sorted(QUERIES)


def test_rotation_fronts_unattested_oracle_backed():
    """While never-attested/re-attest oracle-backed entries remain, the
    driver's 50-wide sample window must consist ONLY of such entries —
    i.e. the window actually rotates onto unattested work, not merely
    onto anything oracle-backed (ADVICE r4 #2: assert the tier, not
    just oracle membership)."""
    names = list(entrymod.queries())
    latest = _latest_rows()
    due = {  # reattest tier ∪ fresh-oracle tier, per the shim's rules
        n
        for n in QUERIES
        if n in ORACLES
        and (n not in latest or not latest[n].get("hash_match"))
    }
    fresh_rows_only = {
        n for n in QUERIES if n not in latest and n not in ORACLES
    }
    window = names[:50]
    for n in window[: min(50, len(due))]:
        assert n in due, (
            f"{n} occupies the sample window but is already hash-green "
            f"while {len(due)} due entries remain"
        )
    # rows-only fresh entries may only appear after every due entry
    if len(due) >= 50:
        assert not (set(window) & fresh_rows_only)


def test_rotation_reattests_formerly_rows_only():
    """An oracle-backed entry sits inside the sample window iff its
    newest driver row is absent or not hash-green; once the driver
    records it green it must be demoted behind the due tier. Derived
    from the artifacts on disk so a post-close driver write flips the
    expectation instead of reddening the suite (the r3/r4 sole-red
    failure class)."""
    names = list(entrymod.queries())
    latest = _latest_rows()
    due = [
        n
        for n in QUERIES
        if n in ORACLES
        and (n not in latest or not latest[n].get("hash_match"))
    ]
    probe = "approx_distinct_sketch"
    if probe not in ORACLES:
        return
    idx = names.index(probe)
    if probe in latest and latest[probe].get("hash_match"):
        # green on the newest row → demoted behind every due entry
        assert idx >= min(50, len(due)), (
            f"{probe} is hash-green in the newest artifact but still "
            f"occupies window slot {idx}"
        )
    else:
        assert idx < 50, f"{probe} is due for (re-)attest but at {idx}"


def test_rotation_demotes_after_synthetic_newer_artifact(monkeypatch, tmp_path):
    """Drop a synthetic NEWER artifact marking the current window green:
    the suite must stay consistent (every newly-green entry demoted,
    never-attested entries promoted) — the exact post-close scenario
    that broke r3 and r4 (VERDICT r4 ask #1 done-criterion)."""
    import glob as _glob

    real = sorted(_glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    current_window = list(entrymod.queries())[:50]
    fake = tmp_path / "CORRECTNESS_r97.json"
    fake.write_text(
        json.dumps(
            {
                n: {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
                for n in current_window
            }
        )
    )
    monkeypatch.setattr(_glob, "glob", lambda *a, **k: real + [str(fake)])
    order = entrymod._rotation_order(list(QUERIES))
    assert sorted(order) == sorted(QUERIES)
    # every entry the synthetic artifact marked green is now demoted
    # behind whatever due entries remain
    latest = dict(_latest_rows())
    for n in current_window:
        latest[n] = {"hash_match": True}
    due = [
        n
        for n in QUERIES
        if n in ORACLES
        and (n not in latest or not latest[n].get("hash_match"))
    ]
    head = order[: min(50, len(due))]
    assert not set(head) & set(current_window), (
        "newly-green entries were not demoted out of the window"
    )


def test_rotation_survives_missing_artifacts(monkeypatch):
    """With NO CORRECTNESS artifacts, every entry is fresh and the
    rotation must return a permutation with oracle-backed entries first
    (actually exercising the empty-`latest` path — the prior version of
    this test ran against the real repo artifacts)."""
    import glob as _glob

    monkeypatch.setattr(_glob, "glob", lambda *a, **k: [])
    order = entrymod._rotation_order(list(QUERIES))
    assert sorted(order) == sorted(QUERIES)
    n_oracle = len([n for n in QUERIES if n in ORACLES])
    assert all(n in ORACLES for n in order[:n_oracle])


def test_rotation_self_advances_across_rounds(monkeypatch, tmp_path):
    """Simulate the driver writing a CORRECTNESS artifact for the
    CURRENT sample window: the next round's window must be disjoint
    from everything attested so far — the self-advancing property the
    attestation-gap fix depends on."""
    import glob as _glob
    import json

    real = {p for p in _glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))}
    current_window = list(entrymod.queries())[:50]
    fake = tmp_path / "CORRECTNESS_r98.json"
    fake.write_text(
        json.dumps(
            {
                n: {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                    "err": None,
                }
                for n in current_window
            }
        )
    )
    monkeypatch.setattr(
        _glob, "glob", lambda *a, **k: sorted(real) + [str(fake)]
    )
    next_window = list(entrymod.queries())[:50]
    already = _attested() | set(current_window)
    fresh_remaining = [
        n for n in QUERIES if n not in already and n in ORACLES
    ]
    overlap = set(next_window) & set(current_window)
    assert not overlap or len(fresh_remaining) < 50, (
        f"window did not advance: {sorted(overlap)[:5]}..."
    )


def test_rotation_merges_rounds_numerically(monkeypatch, tmp_path):
    """An unpadded CORRECTNESS_r7.json sorts lexicographically AFTER
    r10.json; the merge must still let round 10's row win (ADVICE r4
    #1 — numeric round order, same hardening as attestation._artifacts)."""
    import glob as _glob

    probe = next(iter(ORACLES))
    older = tmp_path / "CORRECTNESS_r7.json"
    older.write_text(json.dumps({probe: {"hash_match": False, "err": "old"}}))
    newer = tmp_path / "CORRECTNESS_r10.json"
    newer.write_text(json.dumps({probe: {"hash_match": True, "err": None}}))
    monkeypatch.setattr(
        _glob, "glob", lambda *a, **k: [str(older), str(newer)]
    )
    order = entrymod._rotation_order(list(QUERIES))
    # r10 (green) must win the merge → probe is NOT in the reattest tier,
    # i.e. it sorts behind every never-attested oracle-backed entry
    fresh = [n for n in QUERIES if n != probe and n in ORACLES]
    assert order.index(probe) > order.index(fresh[0])


def test_rotation_survives_unreadable_artifacts(monkeypatch, tmp_path):
    """A corrupt artifact must fall back to registry order, not raise."""
    import glob as _glob

    bad = tmp_path / "CORRECTNESS_r99.json"
    bad.write_text("{not json")
    monkeypatch.setattr(_glob, "glob", lambda *a, **k: [str(bad)])
    order = entrymod._rotation_order(list(QUERIES))
    assert order == list(QUERIES)


def _all_green(rnd: int) -> dict[str, dict]:
    return {
        n: {"rows_match": True, "schema_match": True, "hash_match": True,
            "err": None, "round": rnd}
        for n in QUERIES
    }


def test_rotation_fronts_changed_modules(monkeypatch):
    """VERDICT r10 ask #3: with every entry attested green, entries
    whose implementing file changed since their attestation round's
    commit must front the window, ahead of unchanged entries."""
    from clean_census_acs_data_spark import rotation as rot

    import pytest

    probe = "components_large_star"
    if probe not in QUERIES:
        pytest.skip(f"{probe} left the registry — pick a new probe")
    probe_file = next(
        f
        for f in rot.entry_files(QUERIES)[probe]
        if f.endswith("operators/components.py")
    )
    monkeypatch.setattr(rot, "round_commit", lambda repo, rnd: "deadbeef")
    monkeypatch.setattr(
        rot, "changed_since", lambda repo, c: frozenset({probe_file})
    )
    order = rot.rotation_order(
        list(QUERIES), ORACLES, QUERIES, latest=_all_green(5)
    )
    assert sorted(order) == sorted(QUERIES)
    changed = {
        n for n, fs in rot.entry_files(QUERIES).items() if probe_file in fs
    }
    # every file-closure-changed entry fronts ahead of unchanged ones
    assert changed and set(order[: len(changed)]) == changed, (
        "changed-module entries must front"
    )
    # r13 refinement: within the changed block, entries whose code
    # actually REACHES a changed def (function-level analysis) come
    # before entries that merely share a module-closure file — the
    # probe calls into operators/components.py directly, so it must
    # precede any changed-tier entry that does not reach it
    assert order.index(probe) < len(changed)


def test_rotation_oldest_attested_first_when_nothing_changed(monkeypatch):
    """With no file changes, attested ORACLE-BACKED entries order
    oldest-round-first (registry order within a round); rows-only
    entries sort after every oracle-backed one regardless of age
    (VERDICT r11 #3 — re-sampling one can only return no_oracle, so it
    must never occupy a hash-checkable window slot)."""
    from clean_census_acs_data_spark import rotation as rot

    monkeypatch.setattr(rot, "round_commit", lambda repo, rnd: "deadbeef")
    monkeypatch.setattr(rot, "changed_since", lambda repo, c: frozenset())
    names = list(QUERIES)
    latest = _all_green(5)
    # stamp alternating rounds: odd registry positions attested LATER
    for i, n in enumerate(names):
        latest[n]["round"] = 5 if i % 2 == 0 else 9
    order = rot.rotation_order(names, ORACLES, QUERIES, latest=latest)
    oracle_part = [n for n in order if n in ORACLES]
    rows_only_part = [n for n in order if n not in ORACLES]
    assert order == oracle_part + rows_only_part, (
        "rows-only entries must sort after every oracle-backed one"
    )
    rounds = [latest[n]["round"] for n in oracle_part]
    assert rounds == sorted(rounds), "oldest attestation must come first"
    # registry order preserved within each round tier
    r5 = [n for n in oracle_part if latest[n]["round"] == 5]
    assert r5 == [n for n in names if latest[n]["round"] == 5 and n in ORACLES]
    # the registry really has rows-only entries for this to bite
    assert rows_only_part, "registry should carry rows-only entries"


def test_rotation_rows_only_never_beats_oracle_in_changed_tier(monkeypatch):
    """The exact r11 incident (VERDICT r11 #3): streaming_dedup_watermark
    (rows-only) was the OLDEST-attested entry in the changed tier and
    got fronted into the 50-entry driver window, wasting a
    hash-attestation slot on a guaranteed no_oracle. Age must not beat
    oracle-backedness within a tier."""
    import pytest

    from clean_census_acs_data_spark import rotation as rot

    rows_only = [n for n in QUERIES if n not in ORACLES]
    if not rows_only:
        pytest.skip("registry has no rows-only entries")
    probe = rows_only[0]
    # every implementing file changed -> everything lands in the changed
    # tier; the rows-only probe is attested far earlier than the rest
    monkeypatch.setattr(rot, "round_commit", lambda repo, rnd: "deadbeef")
    monkeypatch.setattr(
        rot,
        "changed_since",
        lambda repo, c: frozenset().union(*rot.entry_files(QUERIES).values()),
    )
    latest = _all_green(9)
    latest[probe]["round"] = 1  # oldest by far
    order = rot.rotation_order(list(QUERIES), ORACLES, QUERIES, latest=latest)
    assert sorted(order) == sorted(QUERIES)
    assert order.index(probe) >= len(ORACLES), (
        "a rows-only entry must sort after every oracle-backed entry "
        "no matter how stale its attestation is"
    )


def test_rotation_survives_git_unavailable(monkeypatch):
    """Git failure (driver box without git, shallow copy without .git)
    degrades to oldest-attested-first — never an exception, still a
    permutation."""
    from clean_census_acs_data_spark import rotation as rot

    monkeypatch.setattr(rot, "_git", lambda repo, *a: None)
    rot.clear_caches()
    try:
        names = list(QUERIES)
        latest = _all_green(7)
        order = rot.rotation_order(names, ORACLES, QUERIES, latest=latest)
        assert sorted(order) == sorted(QUERIES)
        # same round everywhere -> registry order, oracle-backed first
        # (rows-only window slots can only return no_oracle; VERDICT r11 #3)
        expect = [n for n in names if n in ORACLES] + [
            n for n in names if n not in ORACLES
        ]
        assert order == expect
    finally:
        rot.clear_caches()


def test_entry_files_cover_defining_and_deferred_imports():
    """The entry->files map must include the defining module AND
    deferred (function-local) in-package imports, and must exclude hub
    files shared by more than half the registry (io/session would mark
    everything changed every round)."""
    from clean_census_acs_data_spark import rotation as rot

    files = rot.entry_files(QUERIES)
    assert set(files) == set(QUERIES)
    cls = files.get("components_large_star", frozenset())
    if cls:
        # deferred import inside the entry body (queries_round18.py:647)
        assert any(f.endswith("operators/components.py") for f in cls)
        assert any(f.endswith("queries_round18.py") for f in cls)
    hub_cut = len(QUERIES) // 2
    freq: dict[str, int] = {}
    for fs in files.values():
        for f in fs:
            freq[f] = freq.get(f, 0) + 1
    assert all(c <= hub_cut for c in freq.values())
    assert not any(f.endswith("/io.py") or f.endswith("/session.py")
                   for fs in files.values() for f in fs)


def test_duplicate_registration_raises():
    """register() must fail loudly on a name collision — in round 10 a
    new entry silently replaced round-10's rrf_fusion_topk (a
    driver-attested operator) until the registry count came up short."""
    import pytest

    from clean_census_acs_data_spark.queries import register

    existing = next(iter(QUERIES))
    with pytest.raises(ValueError, match="duplicate query registration"):

        @register(existing)
        def clone(spark, sf_dir):  # pragma: no cover — never registered
            raise AssertionError


def _write_tree(root, files: dict[str, str]) -> None:
    for rel, text in files.items():
        path = root / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)


def _fake_package(root) -> dict[str, str]:
    """A small copy of the package layout under ``root``, where
    ``q.entry`` reaches ``operators.dedup.fn`` only through the dotted
    chain of a non-aliased ``import pkg.operators.dedup``; returns its
    module -> relpath map."""
    from clean_census_acs_data_spark.rotation import PKG

    _write_tree(root, {
        f"{PKG}/__init__.py": "",
        f"{PKG}/operators/__init__.py": "",
        f"{PKG}/operators/dedup.py": (
            "def fn(x):\n    return helper(x)\n\n\n"
            "def helper(x):\n    return x\n"
        ),
        f"{PKG}/p.py": (
            "def plain(x):\n    return x\n\n\n"
            "def touched(x):\n    return 1\n"
        ),
        f"{PKG}/q.py": (
            "def entry(x):\n"
            f"    import {PKG}.operators.dedup\n\n"
            f"    return {PKG}.operators.dedup.fn(x)\n\n\n"
            "def entry_gone(x):\n"
            f"    import {PKG}.operators.dedup\n\n"
            f"    return {PKG}.operators.dedup.gone(x)\n"
        ),
    })
    return {
        PKG: os.path.join(PKG, "__init__.py"),
        f"{PKG}.operators": os.path.join(PKG, "operators", "__init__.py"),
        f"{PKG}.operators.dedup": os.path.join(PKG, "operators", "dedup.py"),
        f"{PKG}.p": os.path.join(PKG, "p.py"),
        f"{PKG}.q": os.path.join(PKG, "q.py"),
    }


def test_function_level_reach_and_change_detection(tmp_path):
    """r13 (VERDICT r12 ask #7): the tier-4 window starves without a
    function-level change map — file-granular 'changed since
    attestation' covered 260/396 entries and the prior round's actual
    rewrites never reached the 50-slot window. The static reachability
    analysis must (a) follow the package's real import idioms to the
    operator function an entry calls into, and (b) report an entry
    unchanged when its reached defs are AST-identical at the
    attestation commit (dump comparison — file moves/comments don't
    count)."""
    import os

    from clean_census_acs_data_spark import rotation as rot

    _, pkg_files = rot._module_dep_closure()
    repo = rot._REPO
    mod_rel = {m: os.path.relpath(p, repo) for m, p in pkg_files.items()}
    # (a) cross-module reach through `from ..operators import dedup as D`
    #     + `D.standard_components(...)` + its internal call chain
    r = rot._reach(
        repo, "clean_census_acs_data_spark.queries_ext", "dedup_components", mod_rel
    )
    assert ("clean_census_acs_data_spark.operators.components",
            "connected_components") in r
    assert ("clean_census_acs_data_spark.operators.dedup",
            "standard_components") in r
    # (b) worktree-vs-worktree comparison: identical by construction
    rel = mod_rel["clean_census_acs_data_spark.operators.components"]
    idx = rot._module_index(repo, "WORKTREE", rel)
    assert idx and idx["defs"]["connected_components"]["dump"]
    # a bogus commit is unreadable -> index None -> callers treat as
    # changed (conservative), never raise
    assert rot._module_index(repo, "0000000", rel) is None
    # (c) a full dotted chain through a non-aliased `import pkg.sub.mod`
    #     reaches the def it names and that def's own callees; a chain
    #     naming no def there depends on the whole module
    fake_rel = _fake_package(tmp_path)
    dedup = f"{rot.PKG}.operators.dedup"
    r = rot._reach(str(tmp_path), f"{rot.PKG}.q", "entry", fake_rel)
    assert (dedup, "fn") in r and (dedup, "helper") in r
    r = rot._reach(str(tmp_path), f"{rot.PKG}.q", "entry_gone", fake_rel)
    assert (dedup, rot._WHOLE_MODULE) in r


def test_dotted_chain_change_lands_in_the_precise_tier(tmp_path, monkeypatch):
    """A def changed since attestation and reached only through
    ``pkg.operators.dedup.fn(...)`` makes its entry implementation-
    changed (tier 4a), ahead of an entry whose file merely changed
    around it (tier 4b) — and edits made after a first rotation_order()
    call in the same process are seen by the next one."""
    import subprocess

    from clean_census_acs_data_spark import rotation as rot

    fake_rel = _fake_package(tmp_path)
    (tmp_path / "CORRECTNESS_r01.json").write_text("{}")
    git = ["git", "-C", str(tmp_path), "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run([*git, "init", "-q"], check=True)
    subprocess.run([*git, "add", "-A"], check=True)
    subprocess.run([*git, "commit", "-q", "-m", "attested"], check=True)
    pkg_files = {m: str(tmp_path / rel) for m, rel in fake_rel.items()}
    closure = {f"{rot.PKG}.q": {f"{rot.PKG}.operators.dedup"}}
    monkeypatch.setattr(rot, "_module_dep_closure", lambda: (closure, pkg_files))
    queries = {}
    for name, mod in (("plain", "p"), ("entry", "q")):
        path = tmp_path / fake_rel[f"{rot.PKG}.{mod}"]
        ns = {"__name__": f"{rot.PKG}.{mod}"}
        exec(compile(path.read_text(), str(path), "exec"), ns)
        queries[name] = ns[name]
    latest = {n: {"hash_match": True, "round": 1} for n in queries}

    def order():
        return rot.rotation_order(["plain", "entry"], set(queries), queries,
                                  repo=str(tmp_path), latest=latest)

    assert order() == ["plain", "entry"]  # nothing changed: registry order
    p_path = tmp_path / fake_rel[f"{rot.PKG}.p"]
    dedup_path = tmp_path / fake_rel[f"{rot.PKG}.operators.dedup"]
    p_path.write_text(p_path.read_text().replace("return 1", "return 2"))
    dedup_path.write_text(dedup_path.read_text().replace("helper(x)\n", "helper(x) + 0\n", 1))
    assert order() == ["entry", "plain"]


def test_index_caches_key_on_repo_and_see_worktree_edits(tmp_path):
    """Two repos sharing a relpath index and reach independently, and a
    worktree edit made between two rotation_order() calls is seen."""
    from clean_census_acs_data_spark import rotation as rot

    rel = os.path.join(rot.PKG, "m.py")
    mod_rel = {f"{rot.PKG}.m": rel}
    a, b = tmp_path / "a", tmp_path / "b"
    _write_tree(a, {rel: "def f():\n    return g()\n\n\ndef g():\n    return 1\n"})
    _write_tree(b, {rel: "def f():\n    return 1\n\n\ndef h():\n    return 2\n"})
    assert set(rot._module_index(str(a), "WORKTREE", rel)["defs"]) == {"f", "g"}
    assert set(rot._module_index(str(b), "WORKTREE", rel)["defs"]) == {"f", "h"}
    node_g = (f"{rot.PKG}.m", "g")
    assert node_g in rot._reach(str(a), f"{rot.PKG}.m", "f", mod_rel)
    assert node_g not in rot._reach(str(b), f"{rot.PKG}.m", "f", mod_rel)
    # b's f now calls h: the next rotation_order() drops the stale
    # worktree index and reach entries
    _write_tree(b, {rel: "def f():\n    return h()\n\n\ndef h():\n    return 2\n"})
    rot.rotation_order([], set(), {}, repo=str(b), latest={})
    assert (f"{rot.PKG}.m", "h") in rot._reach(str(b), f"{rot.PKG}.m", "f", mod_rel)


def test_rotation_precise_tier_fronts_prior_round_rewrites():
    """End-to-end on the real git history: entries whose implementation
    the r12 optimization round actually rewrote (connected-components
    consumers, the in-row Walsh hodges rewrite) must land in the
    first-50 driver window, ahead of entries that merely share a
    registry module with changed code. Expectation DERIVED from the
    artifacts (the r3/r4 post-close discipline): once the driver
    attests an entry hash-green in round ≥ 13 — i.e. after the rewrite
    — it is legitimately demoted and the assertion no longer applies."""
    from clean_census_acs_data_spark import rotation as rot

    latest = rot.latest_rows()
    order = entrymod._rotation_order(list(QUERIES))
    win = set(order[:50])
    for probe in (
        "dedup_components",
        "incremental_components_maintenance",
        "hodges_lehmann_location",
        "doremi_domain_weights",
    ):
        if probe not in QUERIES:
            continue
        row = latest.get(probe)
        if row is None or not row.get("hash_match"):
            continue  # re-attest tier owns it — ordering asserted there
        if row.get("round", 0) >= 13:
            continue  # attested post-rewrite — demotion is correct
        assert probe in win, f"{probe} missed the driver window"
