"""scripts/bench_diff.py compares two bench artifacts: two named files,
or by default the newest round-keyed stamp against the rolling
BENCH_FULL.json (which is gitignored, so no git ref can supply it)."""

from __future__ import annotations

import importlib.util
import json
import os

SCRIPT = os.path.join(os.path.dirname(__file__), "..", "scripts", "bench_diff.py")


def _bench_diff():
    spec = importlib.util.spec_from_file_location("bench_diff_mod", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _artifact(path, value, queries, secondary=None, **stamp):
    path.write_text(json.dumps(
        {"value": value, "queries": queries, "secondary": secondary or {}, **stamp}
    ))
    return str(path)


def test_two_files(tmp_path, capsys):
    bd = _bench_diff()
    a = _artifact(tmp_path / "a.json", 10.0, {"q1": 1.0, "q2": 2.0})
    b = _artifact(tmp_path / "b.json", 12.0, {"q1": 1.1, "q2": 3.0}, {"s1": 2.5})
    bd.main([a, b])
    out = capsys.readouterr().out
    assert "headline: 10.0" in out and "-> 12.0" in out
    assert "REGRESSED" in out and "q2" in out and "q1" not in out.split("REGRESSED")[1]
    assert "new entries: 1; >=2s: s1=2.50s" in out


def test_no_arguments_diffs_newest_stamp_against_rolling(tmp_path, monkeypatch, capsys):
    bd = _bench_diff()
    # round 10 is newer than round 9 although "r10" sorts before "r9",
    # and a non-round-keyed name never counts as a stamp
    _artifact(tmp_path / "BENCH_FULL_r9.json", 9.0, {"q1": 1.0})
    _artifact(tmp_path / "BENCH_FULL_r10.json", 10.0, {"q1": 1.0})
    _artifact(tmp_path / "BENCH_FULL_8core_r99.json", 99.0, {"q1": 1.0})
    _artifact(tmp_path / "BENCH_FULL.json", 11.0, {"q1": 1.0})
    monkeypatch.setattr(bd, "ROOT", str(tmp_path))
    bd.main([])
    out = capsys.readouterr().out
    assert out.startswith("headline: 10.0 (")
    assert "BENCH_FULL_r10.json) -> 11.0 (" in out
    assert "no per-query regressions" in out


def test_refuses_artifacts_from_different_scale_factors(tmp_path, capsys):
    import pytest

    bd = _bench_diff()
    a = _artifact(tmp_path / "a.json", 10.0, {"q1": 1.0}, sf=0.1)
    b = _artifact(tmp_path / "b.json", 1.0, {"q1": 0.1}, sf=0.001)
    with pytest.raises(SystemExit) as exc:
        bd.main([a, b])
    assert exc.value.code not in (0, None)
    assert "sf differs: 0.1" in str(exc.value) and "0.001" in str(exc.value)
    assert "headline" not in capsys.readouterr().out


def test_refuses_different_cpu_counts_but_not_a_missing_one(tmp_path, capsys):
    import pytest

    bd = _bench_diff()
    a = _artifact(tmp_path / "a.json", 10.0, {"q1": 1.0}, sf=0.1, cpus=32)
    b = _artifact(tmp_path / "b.json", 12.0, {"q1": 1.0}, sf=0.1, cpus=8)
    with pytest.raises(SystemExit) as exc:
        bd.main([a, b])
    assert exc.value.code not in (0, None)
    assert "cpus differs: 32" in str(exc.value) and "8" in str(exc.value)
    # stamps r07-r12 carry no cpus field: that side compares on sf alone
    old = _artifact(tmp_path / "old.json", 9.0, {"q1": 1.0}, sf=0.1)
    bd.main([old, a])
    assert capsys.readouterr().out.startswith("headline: 9.0")
