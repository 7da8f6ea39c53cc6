"""Generate MODULES.md — an index of every registered query entry
grouped by its domain module, with oracle status and the first
docstring line.

Run:  python scripts/module_index.py   (rewrites MODULES.md)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from clean_census_acs_data_spark.queries import ORACLES, QUERIES

    by_mod: dict[str, list[tuple[str, bool, str]]] = {}
    for name, fn in QUERIES.items():
        # unwrap to the defining function: the register decorator can
        # leave __module__ pointing at the registry module
        target = fn
        while hasattr(target, "__wrapped__"):
            target = target.__wrapped__
        try:
            mod = os.path.splitext(
                os.path.basename(target.__code__.co_filename)
            )[0]
        except AttributeError:
            mod = getattr(target, "__module__", "?").split(".")[-1]
        doc = (target.__doc__ or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        by_mod.setdefault(mod, []).append((name, name in ORACLES, first))

    n_oracle = sum(1 for n in QUERIES if n in ORACLES)
    lines = [
        "# Module index (generated — do not edit; run"
        " `python scripts/module_index.py`)",
        "",
        f"{len(QUERIES)} registered entries across {len(by_mod)} modules;"
        f" {n_oracle} oracle-backed, {len(QUERIES) - n_oracle} rows-only.",
        "Entries appear in registry (insertion) order within each module.",
        "",
    ]
    for mod in sorted(by_mod):
        entries = by_mod[mod]
        n_o = sum(1 for _, has, _ in entries if has)
        lines.append(
            f"## `{mod}` — {len(entries)} entries ({n_o} oracle-backed)"
        )
        lines.append("")
        for name, has, first in entries:
            tag = "" if has else " *(rows-only)*"
            lines.append(f"- `{name}`{tag} — {first}")
        lines.append("")
    with open(os.path.join(REPO, "MODULES.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote MODULES.md: {len(QUERIES)} entries, {len(by_mod)} modules")


if __name__ == "__main__":
    main()
