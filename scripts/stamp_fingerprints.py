"""Write ATTESTED_FINGERPRINTS.json: for every driver-attested entry, the
code fingerprint it had in the tree its newest attestation checked.

Run once after each driver round close, in the first change after it:

    python scripts/stamp_fingerprints.py

For each round that is some entry's newest attested round, it finds the
commit that added CORRECTNESS_r{N}.json, extracts the package from that
commit with ``git archive`` into a temp dir, and fingerprints it with
``rotation.fingerprints``. This is the only code that maps a round to its
commit; ``rotation.rotation_order`` compares the committed map with the
worktree and calls no git.
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from clean_census_acs_data_spark import rotation  # noqa: E402


def _git(repo: str, *args: str) -> bytes:
    return subprocess.run(
        ["git", "-C", repo, *args], capture_output=True, check=True, timeout=60
    ).stdout


def round_commit(repo: str, rnd: int) -> str | None:
    """The commit that added CORRECTNESS_r{rnd}.json: the tree state when
    that round's attestations were sealed. None when no commit added it."""
    out = _git(
        repo, "log", "--diff-filter=A", "--format=%H", "-n1", "--",
        f"CORRECTNESS_r{rnd:02d}.json", f"CORRECTNESS_r{rnd}.json",
    )
    return out.decode().strip() or None


def round_rows(repo: str, rnd: int, names: list[str]) -> dict[str, dict]:
    """Map rows for ``names`` attested at round ``rnd``: their fingerprints
    in that round's tree (null when the round or the entry is not found)."""
    commit = round_commit(repo, rnd)
    fps: dict[str, str] = {}
    if commit:
        archive = _git(repo, "archive", commit, rotation.PKG)
        with tempfile.TemporaryDirectory() as tmp:
            with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
                tar.extractall(tmp, filter="data")
            fps = rotation.fingerprints(tmp)
    return {n: {"round": rnd, "fp": fps.get(n)} for n in names}


def stamp(repo: str = REPO) -> dict:
    by_round: dict[int, list[str]] = {}
    for name, row in rotation.latest_rows(repo).items():
        by_round.setdefault(row["round"], []).append(name)
    entries: dict[str, dict] = {}
    for rnd, names in sorted(by_round.items()):
        entries.update(round_rows(repo, rnd, names))
    return {"python": rotation.PYTHON, "entries": entries}


def main() -> None:
    doc = stamp(REPO)
    with open(os.path.join(REPO, rotation.MAP_FILE), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    rows = doc["entries"].values()
    print(
        f"{rotation.MAP_FILE}: {len(rows)} entries over "
        f"{len({r['round'] for r in rows})} rounds, "
        f"{sum(r['fp'] is None for r in rows)} without a fingerprint"
    )


if __name__ == "__main__":
    main()
