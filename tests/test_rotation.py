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


def _map_rows(latest: dict[str, dict], fps: dict[str, str]) -> dict[str, dict]:
    """Fingerprint-map rows recording ``fps`` at each entry's latest round."""
    return {n: {"round": row["round"], "fp": fps.get(n)} for n, row in latest.items()}


def _write_map(root, rows: dict[str, dict]) -> None:
    from clean_census_acs_data_spark import rotation as rot

    (root / rot.MAP_FILE).write_text(
        json.dumps({"python": rot.PYTHON, "entries": rows})
    )


def test_rotation_fronts_changed_modules(tmp_path):
    """VERDICT r10 ask #3: with every entry attested green, entries
    whose implementing code changed since their attestation round must
    front the window, ahead of unchanged entries. Here a copy of the
    package redefines one operator in operators/components.py."""
    import shutil

    import pytest

    from clean_census_acs_data_spark import rotation as rot

    probe = "components_large_star"
    if probe not in QUERIES:
        pytest.skip(f"{probe} left the registry — pick a new probe")
    shutil.copytree(
        os.path.join(REPO, rot.PKG), tmp_path / rot.PKG,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    components = tmp_path / rot.PKG / "operators" / "components.py"
    components.write_text(
        components.read_text()
        + "\n\ndef connected_components_two_phase(*args, **kwargs):\n    return None\n"
    )
    latest = _all_green(5)
    before = rot.fingerprints(REPO)
    _write_map(tmp_path, _map_rows(latest, before))
    after = rot.fingerprints(str(tmp_path))
    changed = {n for n in QUERIES if before[n] != after[n]}
    order = rot.rotation_order(list(QUERIES), ORACLES, repo=str(tmp_path), latest=latest)
    assert sorted(order) == sorted(QUERIES)
    # the probe calls into the redefined operator; entries that never
    # reach it stay unchanged, so the tier discriminates
    assert probe in changed and len(changed) < len(QUERIES)
    assert set(order[: len(changed)]) == changed, "changed entries must front"


def test_rotation_oldest_attested_first_when_nothing_changed(monkeypatch):
    """With no code changes, attested ORACLE-BACKED entries order
    oldest-round-first (registry order within a round); rows-only
    entries sort after every oracle-backed one regardless of age
    (VERDICT r11 #3 — re-sampling one can only return no_oracle, so it
    must never occupy a hash-checkable window slot)."""
    from clean_census_acs_data_spark import rotation as rot

    names = list(QUERIES)
    latest = _all_green(5)
    # stamp alternating rounds: odd registry positions attested LATER
    for i, n in enumerate(names):
        latest[n]["round"] = 5 if i % 2 == 0 else 9
    rows = _map_rows(latest, rot.fingerprints(REPO))
    monkeypatch.setattr(rot, "attested_map", lambda repo: rows)
    order = rot.rotation_order(names, ORACLES, latest=latest)
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
    # every recorded fingerprint is stale -> everything lands in the
    # changed tier; the rows-only probe is attested far earlier
    latest = _all_green(9)
    latest[probe]["round"] = 1  # oldest by far
    rows = _map_rows(latest, {n: "0" * 40 for n in QUERIES})
    monkeypatch.setattr(rot, "attested_map", lambda repo: rows)
    order = rot.rotation_order(list(QUERIES), ORACLES, latest=latest)
    assert sorted(order) == sorted(QUERIES)
    assert order.index(probe) >= len(ORACLES), (
        "a rows-only entry must sort after every oracle-backed entry "
        "no matter how stale its attestation is"
    )


def test_rotation_survives_missing_fingerprint_map(tmp_path):
    """No map (a checkout without it), an unreadable one, or one written
    under another Python minor version degrades to oldest-attested-first
    — never an exception, still a permutation."""
    from clean_census_acs_data_spark import rotation as rot

    names = list(QUERIES)
    latest = _all_green(7)
    # same round everywhere -> registry order, oracle-backed first
    # (rows-only window slots can only return no_oracle; VERDICT r11 #3)
    expect = [n for n in names if n in ORACLES] + [
        n for n in names if n not in ORACLES
    ]
    other_python = {"python": "2.7", "entries": _map_rows(latest, {})}
    for body in (None, "{not json", json.dumps(other_python)):
        if body is not None:
            (tmp_path / rot.MAP_FILE).write_text(body)
        order = rot.rotation_order(names, ORACLES, repo=str(tmp_path), latest=latest)
        assert order == expect


def test_queries_order_is_the_same_without_subprocess(monkeypatch):
    """The rotation reads files only: with every subprocess failing
    (a driver box without git) queries() returns the same order."""
    import subprocess

    expect = list(entrymod.queries())

    def _no_processes(*args, **kwargs):
        raise OSError("no processes")

    monkeypatch.setattr(subprocess, "run", _no_processes)
    monkeypatch.setattr(subprocess, "Popen", _no_processes)
    assert list(entrymod.queries()) == expect


def test_committed_map_matches_its_round_tree():
    """The rows of the newest round in ATTESTED_FINGERPRINTS.json equal
    a fresh stamp of that round's git tree. A driver artifact newer than
    the map only makes entries "changed" — it never reddens this test."""
    import importlib.util
    import subprocess

    import pytest

    from clean_census_acs_data_spark import rotation as rot

    spec = importlib.util.spec_from_file_location(
        "stamp_fingerprints", os.path.join(REPO, "scripts", "stamp_fingerprints.py")
    )
    stamp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(stamp)
    with open(os.path.join(REPO, rot.MAP_FILE)) as f:
        doc = json.load(f)
    if doc["python"] != rot.PYTHON:
        pytest.skip(f"map written under Python {doc['python']}")
    rnd = max(row["round"] for row in doc["entries"].values())
    try:
        commit = stamp.round_commit(REPO, rnd)
    except (OSError, subprocess.SubprocessError):
        pytest.skip("git unavailable")
    if commit is None:
        pytest.skip(f"no commit added CORRECTNESS_r{rnd:02d}.json")
    committed = {n: row for n, row in doc["entries"].items() if row["round"] == rnd}
    assert stamp.round_rows(REPO, rnd, list(committed)) == committed


def test_duplicate_registration_raises():
    """register() must fail loudly on a name collision — in round 10 a
    new entry silently replaced round-10's rrf_fusion_topk (a
    driver-attested operator) until the registry count came up short."""
    import pytest

    from clean_census_acs_data_spark.registry import register

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


def _fake_package(root) -> None:
    """A small copy of the package layout under ``root``. Entry ``entry``
    reaches ``operators.dedup.fn`` and its ``helper`` only through the
    dotted chain of a function-local ``import pkg.operators.dedup``;
    ``entry_gone``'s chain names no def there; ``plain`` reaches only
    itself."""
    from clean_census_acs_data_spark.rotation import PKG

    _write_tree(root, {
        f"{PKG}/__init__.py": "",
        f"{PKG}/operators/__init__.py": "",
        f"{PKG}/operators/dedup.py": (
            "def fn(x):\n    return helper(x)\n\n\n"
            "def helper(x):\n    return x\n"
        ),
        f"{PKG}/p.py": (
            "@register(\"plain\")\n"
            "def plain(x):\n    return x\n\n\n"
            "def touched(x):\n    return 1\n"
        ),
        f"{PKG}/q.py": (
            "@register(\"entry\")\n"
            "def entry(x):\n"
            f"    import {PKG}.operators.dedup\n\n"
            f"    return {PKG}.operators.dedup.fn(x)\n\n\n"
            "@register(\"entry_gone\")\n"
            "def entry_gone(x):\n"
            f"    import {PKG}.operators.dedup\n\n"
            f"    return {PKG}.operators.dedup.gone(x)\n"
        ),
    })


def _edit(path, old: str, new: str) -> None:
    text = path.read_text()
    assert old in text
    path.write_text(text.replace(old, new, 1))


def test_function_level_reach_and_change_detection(tmp_path):
    """r13 (VERDICT r12 ask #7): file-granular 'changed since
    attestation' covered 260/396 entries, so the change signal is the
    defs an entry reaches. The static reachability analysis must (a)
    follow the package's real import idioms to the operator function an
    entry calls into, (b) index each def by its AST dump and skip an
    unparseable module instead of raising, and (c) resolve full dotted
    chains through a non-aliased ``import pkg.sub.mod``."""
    from clean_census_acs_data_spark import rotation as rot

    # (a) cross-module reach through `from ..operators import dedup as D`
    #     + `D.standard_components(...)` + its internal call chain
    index = rot._package_index(rot._REPO)
    r = rot._reach(index, f"{rot.PKG}.queries_dedup", "dedup_components")
    assert (f"{rot.PKG}.operators.components", "connected_components") in r
    assert (f"{rot.PKG}.operators.dedup", "standard_components") in r
    # (b) every reached node is an indexed def with a non-empty dump
    assert all(index[m]["defs"][n]["dump"] for m, n in r)
    _fake_package(tmp_path)
    (tmp_path / rot.PKG / "broken.py").write_text("def broken(:\n")
    fake = rot._package_index(str(tmp_path))
    assert f"{rot.PKG}.broken" not in fake and f"{rot.PKG}.q" in fake
    # (c) a full dotted chain reaches the def it names and that def's
    #     own callees; a chain naming no def there reaches every def of
    #     the module
    dedup = f"{rot.PKG}.operators.dedup"
    r = rot._reach(fake, f"{rot.PKG}.q", "entry")
    assert (dedup, "fn") in r and (dedup, "helper") in r
    r = rot._reach(fake, f"{rot.PKG}.q", "entry_gone")
    assert {(dedup, "fn"), (dedup, "helper")} <= r


def test_dotted_chain_change_lands_in_the_precise_tier(tmp_path):
    """A def changed since attestation and reached only through
    ``pkg.operators.dedup.fn(...)`` makes its entry changed, ahead of an
    entry whose file merely changed around it — and edits made after a
    first rotation_order() call in the same process are seen by the
    next one."""
    from clean_census_acs_data_spark import rotation as rot

    _fake_package(tmp_path)
    latest = {n: {"hash_match": True, "round": 1} for n in ("plain", "entry")}
    _write_map(tmp_path, _map_rows(latest, rot.fingerprints(str(tmp_path))))

    def order():
        return rot.rotation_order(["plain", "entry"], {"plain", "entry"},
                                  repo=str(tmp_path), latest=latest)

    assert order() == ["plain", "entry"]  # nothing changed: registry order
    _edit(tmp_path / rot.PKG / "p.py", "return 1", "return 2")
    _edit(tmp_path / rot.PKG / "operators" / "dedup.py", "helper(x)\n", "helper(x) + 0\n")
    assert order() == ["entry", "plain"]


def test_index_caches_key_on_repo_and_see_worktree_edits(tmp_path):
    """Two repos sharing a relpath index and reach independently, and a
    worktree edit made between two calls is seen (nothing is cached)."""
    from clean_census_acs_data_spark import rotation as rot

    rel = os.path.join(rot.PKG, "m.py")
    a, b = tmp_path / "a", tmp_path / "b"
    head = "@register(\"e\")\ndef f():\n"
    _write_tree(a, {rel: head + "    return g()\n\n\ndef g():\n    return 1\n"})
    _write_tree(b, {rel: head + "    return 1\n\n\ndef h():\n    return 2\n"})
    ia, ib = rot._package_index(str(a)), rot._package_index(str(b))
    assert set(ia[f"{rot.PKG}.m"]["defs"]) == {"f", "g"}
    assert set(ib[f"{rot.PKG}.m"]["defs"]) == {"f", "h"}
    node_g = (f"{rot.PKG}.m", "g")
    assert node_g in rot._reach(ia, f"{rot.PKG}.m", "f")
    assert node_g not in rot._reach(ib, f"{rot.PKG}.m", "f")
    # b's f now calls h: the next pass sees it, and the fingerprint moves
    before = rot.fingerprints(str(b))["e"]
    _write_tree(b, {rel: head + "    return h()\n\n\ndef h():\n    return 2\n"})
    ib = rot._package_index(str(b))
    assert (f"{rot.PKG}.m", "h") in rot._reach(ib, f"{rot.PKG}.m", "f")
    assert rot.fingerprints(str(b))["e"] != before


def test_fingerprint_sees_edits_behind_deferred_imports(tmp_path):
    """Editing a def that an entry reaches only through a function-local
    import changes that entry's fingerprint and no other's."""
    from clean_census_acs_data_spark import rotation as rot

    _fake_package(tmp_path)
    before = rot.fingerprints(str(tmp_path))
    assert set(before) == {"plain", "entry", "entry_gone"}
    _edit(tmp_path / rot.PKG / "operators" / "dedup.py", "    return x\n", "    return -x\n")
    after = rot.fingerprints(str(tmp_path))
    assert after["entry"] != before["entry"]
    assert after["plain"] == before["plain"]


def _two_entry_package(root, helper_home: str) -> None:
    """Entries ``a`` (reaches ``helper`` via a module-level from-import)
    and ``b`` (reaches nothing else), with ``helper`` in ``helper_home``."""
    from clean_census_acs_data_spark.rotation import PKG

    _write_tree(root, {
        f"{PKG}/__init__.py": "",
        f"{PKG}/{helper_home}.py": "def helper(x):\n    return x + 1\n",
        f"{PKG}/q.py": (
            f"from .{helper_home} import helper\n\n\n"
            "@register(\"a\")\ndef a(x):\n    return helper(x)\n\n\n"
            "@register(\"b\")\ndef b(x):\n    return x\n"
        ),
    })


def test_edited_reached_def_moves_entry_from_unchanged_to_changed(tmp_path):
    """``a`` is attested later than ``b``, so while both are unchanged
    it sorts second; an edit to the helper it reaches moves it into
    the changed tier, ahead of ``b``."""
    from clean_census_acs_data_spark import rotation as rot

    _two_entry_package(tmp_path, "helpers")
    latest = {"a": {"hash_match": True, "round": 9}, "b": {"hash_match": True, "round": 4}}
    _write_map(tmp_path, _map_rows(latest, rot.fingerprints(str(tmp_path))))
    assert rot.rotation_order(["a", "b"], {"a", "b"}, str(tmp_path), latest) == ["b", "a"]
    _edit(tmp_path / rot.PKG / "helpers.py", "x + 1", "x + 2")
    assert rot.rotation_order(["a", "b"], {"a", "b"}, str(tmp_path), latest) == ["a", "b"]


def test_moving_an_unchanged_def_keeps_the_fingerprint(tmp_path):
    """Module paths are not hashed: moving ``helper`` to another module
    (and pointing the import at it) leaves every fingerprint as it was."""
    from clean_census_acs_data_spark import rotation as rot

    _two_entry_package(tmp_path / "before", "helpers")
    _two_entry_package(tmp_path / "after", "util")
    before = rot.fingerprints(str(tmp_path / "before"))
    after = rot.fingerprints(str(tmp_path / "after"))
    assert set(before) == {"a", "b"} and after == before


def test_fingerprint_follows_re_exported_names(tmp_path):
    """``transforms/__init__.py`` binds ``clean_projection`` only by
    import; an edit to the def it re-exports changes the fingerprint of
    the census pipeline entries that call ``T.clean_projection``."""
    import shutil

    from clean_census_acs_data_spark import rotation as rot

    shutil.copytree(
        os.path.join(REPO, rot.PKG), tmp_path / rot.PKG,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    before = rot.fingerprints(str(tmp_path))
    _edit(
        tmp_path / rot.PKG / "transforms" / "normalize.py",
        "for label in _aligned(list(source), expected):",
        "for label in reversed(_aligned(list(source), expected)):",
    )
    after = rot.fingerprints(str(tmp_path))
    assert after["census_pipeline_e2e"] != before["census_pipeline_e2e"]
    assert after["q1_pricing_summary"] == before["q1_pricing_summary"]


def _local_import_package(root, helper_home: str, helper_name: str = "helper") -> None:
    """Entry ``a`` reaches ``helper`` only through a function-local
    ``from .<helper_home> import ...``."""
    from clean_census_acs_data_spark.rotation import PKG

    _write_tree(root, {
        f"{PKG}/__init__.py": "",
        f"{PKG}/{helper_home}.py": (
            "def helper(x):\n    return x + 1\n\n\n"
            "def other(x):\n    return x + 2\n"
        ),
        f"{PKG}/q.py": (
            "@register(\"a\")\ndef a(x):\n"
            f"    from .{helper_home} import {helper_name}\n\n"
            f"    return {helper_name}(x)\n"
        ),
    })


def test_moving_a_def_behind_a_local_import_keeps_the_fingerprint(tmp_path):
    """The module path of an import inside a def is not hashed: moving
    the def it imports (and pointing the import at the new module)
    keeps the fingerprint, while importing a different def changes it."""
    from clean_census_acs_data_spark import rotation as rot

    _local_import_package(tmp_path / "before", "helpers")
    _local_import_package(tmp_path / "after", "util")
    _local_import_package(tmp_path / "other", "helpers", "other")
    before = rot.fingerprints(str(tmp_path / "before"))
    assert rot.fingerprints(str(tmp_path / "after")) == before
    assert rot.fingerprints(str(tmp_path / "other"))["a"] != before["a"]


def test_a_local_name_is_not_a_reference(tmp_path):
    """A def's own local that shares a module-level name (here an
    argument and an assignment named ``helper``) does not reach that
    name: editing ``helper`` leaves the entry's fingerprint alone."""
    from clean_census_acs_data_spark import rotation as rot

    _write_tree(tmp_path, {
        f"{rot.PKG}/__init__.py": "",
        f"{rot.PKG}/helpers.py": "def helper(x):\n    return x + 1\n",
        f"{rot.PKG}/q.py": (
            "from .helpers import helper\n\n\n"
            "@register(\"a\")\ndef a(x):\n    helper = x + 1\n    return helper\n\n\n"
            "@register(\"b\")\ndef b(helper):\n    return helper\n"
        ),
    })
    before = rot.fingerprints(str(tmp_path))
    _edit(tmp_path / rot.PKG / "helpers.py", "x + 1", "x + 2")
    assert rot.fingerprints(str(tmp_path)) == before
