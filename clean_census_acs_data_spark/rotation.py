"""Change-aware ordering of the driver's sample window.

The driver checks the FIRST 50 entries of ``__spark_entry__.queries()``
against DuckDB each round; ``rotation_order`` puts first the entries
most worth (re-)checking:

1. re-attest: newest driver row not hash-green, entry oracle-backed
2. fresh oracle-backed: never attested, hash-checkable
3. fresh rows-only: never attested, no oracle
4. changed: attested, but the entry's fingerprint differs from the one
   ATTESTED_FINGERPRINTS.json records for its newest attested round,
   or the map has no usable row for it
5. unchanged: every other attested entry

Tiers 1-3 keep registry order. Tiers 4 and 5 sort oracle-backed first
(a rows-only slot can only return no_oracle), then oldest attestation,
then registry order.

A fingerprint is the sha1 of the sorted distinct ``ast.dump``s of the
top-level defs an entry's ``@register`` def statically reaches. Module
paths are not hashed, neither where a def lives nor the package module a
def imports from, so moving an unchanged def keeps it. A name a module
binds by import (a re-export) is followed to the def it names. The map
is written by ``scripts/stamp_fingerprints.py`` from each round's git
tree. A missing or unreadable map, or one from another Python minor
version (whose ``ast.dump`` differs), counts every attested entry as
changed.
"""

from __future__ import annotations

import ast
import gc
import glob
import hashlib
import json
import os
import re
import sys

PKG = "clean_census_acs_data_spark"
MAP_FILE = "ATTESTED_FINGERPRINTS.json"
PYTHON = "%d.%d" % sys.version_info[:2]
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def latest_rows(repo: str = _REPO) -> dict[str, dict]:
    """name -> newest CORRECTNESS row, annotated with ``"round"``.

    Numeric merge order (parsed round number, not filename sort) so an
    unpadded CORRECTNESS_r7.json can never overwrite r10's row."""

    def _round_no(path: str) -> int:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        return int(m.group(1)) if m else -1

    latest: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")), key=_round_no):
        rnd = _round_no(path)
        with open(path) as f:
            for name, row in json.load(f).items():
                latest[name] = {**row, "round": rnd}
    return latest


def _refs_and_imports(node, package: list[str]) -> tuple[set[str], dict[str, str]]:
    """All names / dotted attribute chains (``a.b.c``) referenced inside
    ``node``, and the imports declared inside it (bound name -> target).
    A name ``node`` binds anywhere inside it (an argument, an assignment
    target) is a local, not a reference to a module-level name."""
    refs: set[str] = set()
    local: set[str] = set()
    imports: dict[str, str] = {}
    stack = [node]
    while stack:  # ast.walk, without its two generator layers per node
        sub = stack.pop()
        for field in sub._fields:
            v = getattr(sub, field, None)
            if isinstance(v, list):
                stack.extend(x for x in v if isinstance(x, ast.AST))
            elif isinstance(v, ast.AST):
                stack.append(v)
        if isinstance(sub, ast.Name):
            (refs if isinstance(sub.ctx, ast.Load) else local).add(sub.id)
        elif isinstance(sub, ast.arg):
            local.add(sub.arg)
        elif isinstance(sub, ast.Attribute):
            chain = [sub.attr]
            base = sub.value
            while isinstance(base, ast.Attribute):
                chain.append(base.attr)
                base = base.value
            if isinstance(base, ast.Name):
                refs.add(".".join([base.id, *reversed(chain)]))
        elif isinstance(sub, ast.Import):
            for a in sub.names:
                bound = a.asname or a.name.split(".")[0]
                imports[bound] = a.name if a.asname else bound
        elif isinstance(sub, ast.ImportFrom):
            base = package[: len(package) - sub.level + 1] if sub.level else []
            mod = ".".join(base + ([sub.module] if sub.module else []))
            for a in sub.names:
                imports[a.asname or a.name] = f"{mod}.{a.name}"
    return {r for r in refs if r.partition(".")[0] not in local}, imports


def _blank_package_imports(node):
    """``node`` with the module path of every import of a package module
    blanked, so a def keeps its dump when what it imports moves; the
    reach walk still follows the import to the def it names."""
    for sub in ast.walk(node):
        if isinstance(sub, ast.ImportFrom) and (sub.level or (sub.module or "").startswith(PKG)):
            sub.module, sub.level = None, 0
        elif isinstance(sub, ast.Import):
            for a in sub.names:
                if a.name.startswith(PKG):
                    a.name = ""
    return node


def _module_index(src: str, package: list[str]) -> dict:
    """One module's top-level defs/classes/assigns (name -> ``ast.dump``,
    references, local imports), its module-level imports, and its
    ``@register("<name>", …)`` entries (entry name -> def name)."""
    defs: dict[str, dict] = {}
    imports: dict[str, str] = {}
    entries: dict[str, str] = {}
    for node in ast.parse(src).body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            bound = _refs_and_imports(node, package)[1]
            imports.update(bound)
            # a re-exported name is a def whose one reference is its target
            for name in bound:
                defs[name] = {"dump": "", "refs": {name}, "imports": {}}
            continue
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
            for dec in node.decorator_list:
                if isinstance(dec, ast.Call) and getattr(dec.func, "id", "") == "register":
                    if dec.args and isinstance(dec.args[0], ast.Constant):
                        entries[dec.args[0].value] = node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
        else:
            continue
        refs, local = _refs_and_imports(node, package)
        dump = ast.dump(_blank_package_imports(node))
        for name in names:
            # a name bound twice keeps both statements' dumps
            d = defs.setdefault(name, {"dump": "", "refs": set(), "imports": {}})
            d["dump"] += dump
            d["refs"] |= refs
            d["imports"].update(local)
    return {"defs": defs, "imports": imports, "entries": entries}


def _package_index(root: str) -> dict[str, dict]:
    """module name -> ``_module_index`` of every parseable ``.py`` file
    of the package under ``root``."""
    index: dict[str, dict] = {}
    for dirpath, _, filenames in os.walk(os.path.join(root, PKG)):
        # the containing package, which relative imports resolve against
        package = os.path.relpath(dirpath, root).split(os.sep)
        for fn in (f for f in filenames if f.endswith(".py")):
            mod = package if fn == "__init__.py" else [*package, fn[: -len(".py")]]
            try:
                with open(os.path.join(dirpath, fn), encoding="utf-8") as f:
                    index[".".join(mod)] = _module_index(f.read(), package)
            except (OSError, SyntaxError, ValueError):
                continue
    return index


def _reach(index: dict[str, dict], mod_name: str, fn_name: str) -> set[tuple[str, str]]:
    """(module, name) of every top-level def statically reachable from
    ``mod_name.fn_name`` through same-module names, imports of package
    modules and dotted chains (``D.f``, ``pkg.operators.dedup.f``). A
    chain names the def right after its longest package-module prefix;
    if that module has no such def, the walk goes on from all its defs."""
    seen: set[tuple[str, str]] = set()
    stack = [(mod_name, fn_name)]
    while stack:
        mod, name = stack.pop()
        idx = index.get(mod)
        d = idx["defs"].get(name) if idx else None
        if d is None or (mod, name) in seen:
            continue
        seen.add((mod, name))
        imports = {**idx["imports"], **d["imports"]}
        for ref in d["refs"]:
            head, _, rest = ref.partition(".")
            t = imports.get(head)
            if t is None:
                if ref in idx["defs"]:
                    stack.append((mod, ref))
                continue
            # the imported target plus the chain on it: m.f, pkg.sub.m.f
            # and a from-imported object's attributes all land on (m, f)
            full = f"{t}.{rest}" if rest else t
            if full in index:
                continue  # the module object itself
            parts = full.split(".")
            for k in range(len(parts) - 1, 0, -1):
                m2 = ".".join(parts[:k])
                if m2 in index:
                    if rest and parts[k] not in index[m2]["defs"]:
                        stack.extend((m2, n) for n in index[m2]["defs"])
                    else:
                        stack.append((m2, parts[k]))
                    break
    return seen


def fingerprints(root: str) -> dict[str, str]:
    """entry name -> sha1 of the sorted ``ast.dump``s of the defs it reaches
    in the package under ``root``; an entry not found is absent (None)."""
    # ~130k AST nodes and no cycles: a process that already holds pyspark
    # would otherwise spend more time in full collections than parsing
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        index = _package_index(root)
        out: dict[str, str] = {}
        for mod, idx in index.items():
            for entry, fn in idx["entries"].items():
                dumps = sorted({index[m]["defs"][n]["dump"] for m, n in _reach(index, mod, fn)} - {""})
                out[entry] = hashlib.sha1("\n".join(dumps).encode()).hexdigest()
        return out
    finally:
        if gc_was_enabled:
            gc.enable()


def attested_map(repo: str = _REPO) -> dict[str, dict]:
    """name -> ``{"round", "fp"}`` from the committed map; empty when the
    map is missing, unreadable, or written under another Python."""
    try:
        with open(os.path.join(repo, MAP_FILE)) as f:
            doc = json.load(f)
        return dict(doc["entries"]) if doc["python"] == PYTHON else {}
    except (OSError, ValueError, TypeError, KeyError):
        return {}


def rotation_order(
    names: list[str], oracles: dict | set, repo: str = _REPO, latest: dict | None = None
) -> list[str]:
    """Order ``names`` per the five tiers in the module docstring."""
    if latest is None:
        try:
            latest = latest_rows(repo)
        except (OSError, ValueError):
            return list(names)  # artifacts unreadable — registry order

    reattest = [
        n for n in names if n in latest and n in oracles and not latest[n].get("hash_match")
    ]
    fresh_oracle = [n for n in names if n not in latest and n in oracles]
    fresh_rows = [n for n in names if n not in latest and n not in oracles]
    seen = [n for n in names if n in latest and n not in reattest]

    stamped = attested_map(repo)
    current = fingerprints(repo) if stamped else {}

    def _changed(n: str) -> bool:
        row = stamped.get(n)
        if not isinstance(row, dict) or row.get("round") != latest[n].get("round"):
            return True
        return row.get("fp") is None or row["fp"] != current.get(n)

    # a stable sort, so registry order breaks the remaining ties
    seen.sort(key=lambda n: (n not in oracles, latest[n].get("round", 0)))
    changed = [n for n in seen if _changed(n)]
    unchanged = [n for n in seen if not _changed(n)]
    return reattest + fresh_oracle + fresh_rows + changed + unchanged
