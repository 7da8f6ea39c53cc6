"""Change-aware driver-sample rotation (VERDICT r10 ask #3).

The driver samples the FIRST 50 entries of ``__spark_entry__.queries()``
for its per-round DuckDB-parity CORRECTNESS_r{N}.json. Rounds 4-10
rotated never-attested entries into that window; by r10 close every
registry entry carried at least one driver attestation, so from r11 the
window must RE-confirm — and the most valuable re-confirmations are the
entries whose implementing code actually changed since they were last
attested. Ordering tiers:

1. re-attest: had a driver row, latest row not hash-green, now
   oracle-backed (e.g. a rows-only entry later given an oracle)
2. fresh oracle-backed: never attested, hash-checkable
3. fresh rows-only: never attested, no oracle
4. CHANGED since attestation: latest row green, but a file implementing
   the entry (defining module + its transitive in-package imports)
   differs from the tree at the commit that landed that round's
   CORRECTNESS artifact — oldest attestation first
5. unchanged: oldest attestation first

Registry (insertion) order is preserved within every tier, so the
rotation is deterministic. Git supplies tier 4 (``git log
--diff-filter=A`` dates each artifact; ``git diff --name-only <commit>``
lists files that differ from today's worktree); when git or the
artifacts are unavailable the tier is empty and the order degrades to
the oldest-attested-first rotation — never an exception.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess

PKG = "clean_census_acs_data_spark"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- artifacts


def latest_rows(repo: str = _REPO) -> dict[str, dict]:
    """name -> newest CORRECTNESS row, annotated with ``"round"``.

    Numeric merge order (parsed round number, not filename sort) so an
    unpadded CORRECTNESS_r7.json can never overwrite r10's row."""

    def _round_no(path: str) -> int:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        return int(m.group(1)) if m else -1

    latest: dict[str, dict] = {}
    paths = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")), key=_round_no)
    for path in paths:
        rnd = _round_no(path)
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            latest[name] = {**row, "round": rnd}
    return latest


# ------------------------------------------------------- entry -> files map


_CLOSURE_CACHE: list[tuple[dict[str, set[str]], dict[str, str]]] = []


def _module_dep_closure() -> tuple[dict[str, set[str]], dict[str, str]]:
    """(module -> transitive set of package module NAMES it imports,
    module -> source path), from an AST scan of each module's SOURCE
    (so deferred function-local imports — common here to keep module
    import cheap — count; a namespace scan misses them). Memoized for
    the process lifetime (sources can't change under a running
    process in a way that matters to the rotation; cleared by
    clear_caches()).

    The registry module and the package root are dependency CYCLES, not
    implementations: queries.py imports every queries_round* for
    registration, and every round module imports ``register`` back from
    it — following either direction makes the closure complete and
    every entry "depend on" every file. Both get NO edges (in or out);
    entries defined in queries.py still carry it as their defining
    file, and the file-level hub cut in entry_files() catches any other
    always-shared module."""
    import ast

    if _CLOSURE_CACHE:
        return _CLOSURE_CACHE[0]
    skip = {PKG, PKG + ".queries"}
    # fully static: walk the package DIRECTORY (sys.modules would miss
    # modules that are only ever deferred-imported inside functions)
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_files: dict[str, str] = {}
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for fn in filenames:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg_dir)
            parts = rel[: -len(".py")].split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            pkg_files[".".join([PKG, *parts]) if parts else PKG] = path
    direct: dict[str, set[str]] = {}
    for name, path in pkg_files.items():
        deps: set[str] = set()
        if name not in skip:
            try:
                tree = ast.parse(open(path, encoding="utf-8").read())
            except (OSError, SyntaxError):
                tree = None
            pkg_parts = name.split(".")
            # relative imports resolve against the CONTAINING package:
            # for a plain module that is pkg_parts minus the module
            # segment, but an __init__ module IS its package — level 1
            # resolves against itself, not its parent (review r11)
            is_pkg = os.path.basename(path) == "__init__.py"
            anchor = pkg_parts if is_pkg else pkg_parts[:-1]
            for node in ast.walk(tree) if tree else ():
                if isinstance(node, ast.Import):
                    for a in node.names:
                        if a.name == PKG or a.name.startswith(PKG + "."):
                            deps.add(a.name)
                elif isinstance(node, ast.ImportFrom):
                    if node.level:  # relative: resolve against the package
                        base = anchor[: len(anchor) - (node.level - 1)]
                        mod_str = ".".join(base + ([node.module] if node.module else []))
                    else:
                        mod_str = node.module or ""
                    if mod_str == PKG or mod_str.startswith(PKG + "."):
                        deps.add(mod_str)
                        # ``from .operators import dedup`` imports a
                        # MODULE as the bound name — add the submodule
                        # when it is a real package file
                        for a in node.names:
                            sub = f"{mod_str}.{a.name}"
                            if sub in pkg_files:
                                deps.add(sub)
        direct[name] = {d for d in deps if d != name and d not in skip}
    # transitive closure (the graph is ~70 nodes; simple fixpoint)
    closure = {n: set(d) for n, d in direct.items()}
    changed = True
    while changed:
        changed = False
        for n, deps in closure.items():
            extra = set()
            for d in deps:
                extra |= closure.get(d, set())
            if not extra <= deps:
                deps |= extra
                changed = True
    _CLOSURE_CACHE.append((closure, pkg_files))
    return closure, pkg_files


def entry_files(queries: dict, repo: str = _REPO) -> dict[str, frozenset[str]]:
    """entry name -> repo-relative paths of the files implementing it:
    the defining module plus its transitive in-package imports, MINUS
    hub modules.

    A hub module (session.py, io.py, the queries registry — anything in
    more than half the registry's closures) changes almost every round
    and would mark ALL entries "changed", collapsing the tier into
    plain oldest-first; dropping hubs keeps the tier discriminating.
    When a hub genuinely changes behavior, every entry is equally due
    and the oldest-attested-first tier 5 IS the right window."""
    closure, pkg_files = _module_dep_closure()
    raw: dict[str, set[str]] = {}
    for name, fn in queries.items():
        target = fn
        while hasattr(target, "__wrapped__"):
            target = target.__wrapped__
        files: set[str] = set()
        mod_name = getattr(target, "__module__", None)
        try:
            files.add(os.path.abspath(target.__code__.co_filename))
        except AttributeError:
            pass
        for dep in {mod_name, *closure.get(mod_name, set())} - {None}:
            f = pkg_files.get(dep)
            if f:
                files.add(os.path.abspath(f))
        raw[name] = {
            os.path.relpath(f, repo) for f in files if f.startswith(repo + os.sep)
        }
    freq: dict[str, int] = {}
    for files in raw.values():
        for f in files:
            freq[f] = freq.get(f, 0) + 1
    hub_cut = max(1, len(queries) // 2)
    return {
        name: frozenset(f for f in files if freq[f] <= hub_cut)
        for name, files in raw.items()
    }


# ------------------------------------------------------------ git plumbing


def _git(repo: str, *args: str) -> str | None:
    try:
        r = subprocess.run(
            ["git", "-C", repo, *args],
            capture_output=True,
            text=True,
            timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout if r.returncode == 0 else None

_ROUND_COMMIT_CACHE: dict[tuple[str, int], str | None] = {}
_CHANGED_CACHE: dict[tuple[str, str], frozenset[str] | None] = {}


def round_commit(repo: str, rnd: int) -> str | None:
    """The commit that last ADDED CORRECTNESS_r{rnd}.json — i.e. the
    tree state when that round's attestations were sealed."""
    key = (repo, rnd)
    if key not in _ROUND_COMMIT_CACHE:
        out = _git(
            repo,
            "log",
            "--diff-filter=A",
            "--format=%H",
            "-n1",
            "--",
            f"CORRECTNESS_r{rnd:02d}.json",
            f"CORRECTNESS_r{rnd}.json",
        )
        _ROUND_COMMIT_CACHE[key] = out.strip() if out and out.strip() else None
    return _ROUND_COMMIT_CACHE[key]


def changed_since(repo: str, commit: str) -> frozenset[str] | None:
    """Repo-relative files that differ between ``commit`` and the
    CURRENT WORKTREE (committed + uncommitted edits both count — an
    entry edited five minutes ago is due even before the commit)."""
    key = (repo, commit)
    if key not in _CHANGED_CACHE:
        out = _git(repo, "diff", "--name-only", commit)
        _CHANGED_CACHE[key] = (
            frozenset(line for line in out.splitlines() if line.strip())
            if out is not None
            else None
        )
    return _CHANGED_CACHE[key]


_LAST_CHANGE_CACHE: dict[tuple[str, str], int] = {}

# ---------------------------------------------- function-level change map
#
# File-granular "changed since attestation" stopped discriminating once
# a few rounds of edits had touched most registry modules (260 of 396
# entries at r13 start), so the 50-slot driver window never reached the
# prior round's actual rewrites (VERDICT r12 ask #7). The fix is a
# static function-level reachability map: an entry is IMPLEMENTATION-
# changed only when some top-level def/class/assignment its code
# actually reaches (via the package's import idioms) differs — by AST
# dump, so moves/whitespace don't count — from the tree at the entry's
# attestation commit. Resolution failures degrade to "changed"
# (conservative: an entry is re-attested too early, never too late).

# keyed (repo, commit, relpath) and (repo, module, def); rotation_order()
# drops the WORKTREE entries at the start of every call
_MOD_INDEX_CACHE: dict[tuple[str, str, str], dict | None] = {}
_REACH_CACHE: dict[tuple[str, str, str], frozenset[tuple[str, str]]] = {}


def _index_source(repo: str, commit: str, relpath: str) -> str | None:
    if commit == "WORKTREE":
        try:
            return open(os.path.join(repo, relpath), encoding="utf-8").read()
        except OSError:
            return None
    return _git(repo, "show", f"{commit}:{relpath}")


def _refs_and_imports(node, anchor: list[str]) -> tuple[set[str], dict[str, str]]:
    """All names / dotted attribute chains (``a.b.c``) referenced inside
    ``node``, plus package-internal imports declared inside it
    (function-local deferred imports are idiomatic here)."""
    import ast

    refs: set[str] = set()
    imports: dict[str, str] = {}
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            refs.add(sub.id)
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
                if a.name == PKG or a.name.startswith(PKG + "."):
                    imports[(a.asname or a.name).split(".")[0]] = (
                        a.name if a.asname else a.name.split(".")[0]
                    )
                    if a.asname:
                        imports[a.asname] = a.name
        elif isinstance(sub, ast.ImportFrom):
            if sub.level:
                base = anchor[: len(anchor) - (sub.level - 1)]
                mod = ".".join(base + ([sub.module] if sub.module else []))
            else:
                mod = sub.module or ""
            if mod == PKG or mod.startswith(PKG + "."):
                for a in sub.names:
                    imports[a.asname or a.name] = f"{mod}.{a.name}"
    return refs, imports


def _module_index(repo: str, commit: str, relpath: str) -> dict | None:
    """Static index of a module version: top-level defs/classes/assigns
    with their AST dumps, per-def references, and import maps. None
    when the file is missing or unparseable at that commit."""
    import ast

    key = (repo, commit, relpath)
    if key in _MOD_INDEX_CACHE:
        return _MOD_INDEX_CACHE[key]
    src = _index_source(repo, commit, relpath)
    try:
        tree = ast.parse(src) if src is not None else None
    except SyntaxError:
        tree = None
    if tree is None:
        _MOD_INDEX_CACHE[key] = None
        return None
    parts = relpath[: -len(".py")].split(os.sep)
    if parts and parts[-1] == "__init__":
        parts = parts[:-1]
    anchor = parts if os.path.basename(relpath) == "__init__.py" else parts[:-1]
    mod_imports: dict[str, str] = {}
    defs: dict[str, dict] = {}
    for node in tree.body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            _, imp = _refs_and_imports(node, anchor)
            mod_imports.update(imp)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            refs, imp = _refs_and_imports(node, anchor)
            dump = "" if node.name in defs else ast.dump(node)
            defs[node.name] = {"dump": dump, "refs": refs, "imports": imp}
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (
                node.targets if isinstance(node, ast.Assign) else [node.target]
            )
            value = node.value
            if value is None:
                continue
            refs, imp = _refs_and_imports(value, anchor)
            for t in targets:
                if isinstance(t, ast.Name):
                    dump = "" if t.id in defs else ast.dump(value)
                    defs[t.id] = {"dump": dump, "refs": refs, "imports": imp}
    idx = {"defs": defs, "imports": mod_imports, "anchor": anchor}
    _MOD_INDEX_CACHE[key] = idx
    return idx


# def-name placeholder for a dotted reference into a package module that
# names no top-level def there: the entry depends on the whole module
_WHOLE_MODULE = "*"


def _reach(repo: str, mod_name: str, fn_name: str, mod_rel: dict[str, str]) -> frozenset[tuple[str, str]]:
    """(module name, def name) nodes statically reachable from
    ``mod_name.fn_name`` in the CURRENT worktree, following same-module
    references, ``from pkg.m import f`` names and dotted attribute
    chains (``D.f``, ``pkg.operators.dedup.f``) through package-internal
    imports. A chain resolves to the def named right after its longest
    prefix that is a package module; when that module has no such
    top-level def the node is ``(module, _WHOLE_MODULE)``, which
    callers count as changed whenever the module's file changed."""
    key = (repo, mod_name, fn_name)
    if key in _REACH_CACHE:
        return _REACH_CACHE[key]
    seen: set[tuple[str, str]] = set()
    stack = [(mod_name, fn_name)]
    while stack:
        mod, name = stack.pop()
        if (mod, name) in seen:
            continue
        seen.add((mod, name))
        rel = mod_rel.get(mod)
        idx = _module_index(repo, "WORKTREE", rel) if rel else None
        if not idx:
            continue
        d = idx["defs"].get(name)
        if not d:
            continue
        imports = {**idx["imports"], **d["imports"]}
        for ref in d["refs"]:
            head, _, rest = ref.partition(".")
            t = imports.get(head)
            if t is None:
                if not rest and ref in idx["defs"]:
                    stack.append((mod, ref))
                continue
            # the imported target plus the attribute chain on it, cut at
            # its longest package-module prefix: m.f, pkg.sub.m.f and a
            # from-imported object's attributes all land on (m, f)
            full = f"{t}.{rest}" if rest else t
            if full in mod_rel:
                continue  # the module object itself
            parts = full.split(".")
            for k in range(len(parts) - 1, 0, -1):
                m2 = ".".join(parts[:k])
                if m2 not in mod_rel:
                    continue
                name2 = parts[k]
                if rest:
                    idx2 = _module_index(repo, "WORKTREE", mod_rel[m2])
                    if not idx2 or name2 not in idx2["defs"]:
                        name2 = _WHOLE_MODULE
                stack.append((m2, name2))
                break
    out = frozenset(seen)
    _REACH_CACHE[key] = out
    return out


def file_last_change(repo: str, relpath: str) -> int:
    """Unix time of the newest change to ``relpath``: the worktree mtime
    when the file differs from HEAD (an uncommitted edit is the newest
    possible change), else the last commit touching it. 0 when git is
    unavailable — every file ties and the recency sort degrades to the
    attestation-age tiebreak, never an exception."""
    key = (repo, relpath)
    if key not in _LAST_CHANGE_CACHE:
        ts = 0
        dirty = changed_since(repo, "HEAD")
        if dirty is not None and relpath in dirty:
            try:
                ts = int(os.stat(os.path.join(repo, relpath)).st_mtime)
            except OSError:
                ts = 0
        if not ts:
            out = _git(repo, "log", "-n1", "--format=%ct", "--", relpath)
            ts = int(out.strip()) if out and out.strip().isdigit() else 0
        _LAST_CHANGE_CACHE[key] = ts
    return _LAST_CHANGE_CACHE[key]


def clear_caches() -> None:
    _ROUND_COMMIT_CACHE.clear()
    _CHANGED_CACHE.clear()
    _CLOSURE_CACHE.clear()
    _LAST_CHANGE_CACHE.clear()
    _MOD_INDEX_CACHE.clear()
    _REACH_CACHE.clear()


# ------------------------------------------------------------ the ordering


def rotation_order(
    names: list[str],
    oracles: dict | set,
    queries: dict,
    repo: str = _REPO,
    latest: dict[str, dict] | None = None,
) -> list[str]:
    """Order ``names`` per the five tiers in the module docstring."""
    # everything read from the worktree is re-read per call, so a
    # long-lived process sees edits made between calls
    for key in [k for k in _MOD_INDEX_CACHE if k[1] == "WORKTREE"]:
        del _MOD_INDEX_CACHE[key]
    _REACH_CACHE.clear()
    _CHANGED_CACHE.clear()
    _LAST_CHANGE_CACHE.clear()
    if latest is None:
        try:
            latest = latest_rows(repo)
        except (OSError, ValueError):
            return list(names)  # artifacts unreadable — registry order

    reattest = [
        n
        for n in names
        if n in latest and not latest[n].get("hash_match") and n in oracles
    ]
    fresh_oracle = [n for n in names if n not in latest and n in oracles]
    fresh_rows = [n for n in names if n not in latest and n not in oracles]
    seen = [n for n in names if n in latest and n not in reattest]

    # tier 4/5 split: implementing files changed since last attestation
    try:
        files = entry_files(queries, repo)
    except Exception:
        files = {}
    changed_by_round: dict[int, frozenset[str] | None] = {}
    idx = {n: i for i, n in enumerate(names)}

    def _is_changed(n: str) -> bool:
        rnd = latest[n].get("round")
        if rnd is None or not files.get(n):
            return False
        if rnd not in changed_by_round:
            commit = round_commit(repo, rnd)
            changed_by_round[rnd] = (
                changed_since(repo, commit) if commit else None
            )
        ch = changed_by_round[rnd]
        return bool(ch) and bool(files[n] & ch)

    changed = [n for n in seen if _is_changed(n)]
    unchanged = [n for n in seen if n not in set(changed)]

    # Tier 4 refinement (VERDICT r12 ask #7): with rounds of edits
    # accumulated, file-granular "changed since attestation" covers
    # most of the registry (260 of 396 at r13 start), and the old
    # oldest-attested-first order spent the whole 50-slot window on
    # entries whose files last moved many rounds ago while the PRIOR
    # round's ~40 rewrites — the highest-risk unattested code — waited
    # at the back. Two discriminators fix that:
    #
    # - PRECISELY-changed (tier 4a): the entry's own defining
    #   function's AST differs from the attestation-round tree, or a
    #   non-defining dependency module (operator/helper) in its closure
    #   changed — i.e. the entry's actual implementation moved, not
    #   merely a sibling in the same registry module. Unparseable /
    #   ambiguous lookups count as changed (conservative).
    # - RECENCY: newest change first (the newest rewrites have gone the
    #   longest relative to their risk without attestation); ties fall
    #   back to oldest attestation, then registry order.
    #
    # Tier 4b (file changed, function didn't) and tier 5 keep
    # oldest-attestation-first. Oracle-backed entries first throughout
    # (VERDICT r11 #3 — a rows-only re-sample can only return
    # no_oracle and wastes a window slot).
    try:
        _, pkg_files = _module_dep_closure()
        mod_rel = {
            m: os.path.relpath(p, repo)
            for m, p in pkg_files.items()
            if os.path.abspath(p).startswith(repo + os.sep)
        }
    except Exception:
        mod_rel = {}
    rel_mod = {v: k for k, v in mod_rel.items()}

    def _diff_files(n: str) -> frozenset[str] | None:
        """Relpaths holding reached defs that differ from the entry's
        attestation-round tree; empty = implementation provably
        unchanged; None = cannot analyze (conservative: changed)."""
        rnd = latest[n].get("round")
        commit = round_commit(repo, rnd) if rnd is not None else None
        ch = changed_by_round.get(rnd)
        if not commit or ch is None:
            return None
        target = queries.get(n)
        while hasattr(target, "__wrapped__"):
            target = target.__wrapped__
        try:
            path = os.path.abspath(target.__code__.co_filename)
            fn = target.__name__
        except AttributeError:
            return None
        relp = (
            os.path.relpath(path, repo)
            if path.startswith(repo + os.sep)
            else None
        )
        mod = rel_mod.get(relp)
        if not mod:
            return None
        widx0 = _module_index(repo, "WORKTREE", relp)
        if not widx0 or fn not in widx0["defs"]:
            # factory-made inner function — invisible to the top-level
            # static index; cannot prove anything
            return None
        diffs: set[str] = set()
        for m2, name2 in _reach(repo, mod, fn, mod_rel):
            rel2 = mod_rel.get(m2)
            if not rel2 or rel2 not in ch:
                continue  # file identical since attestation
            if name2 == _WHOLE_MODULE:
                diffs.add(rel2)  # unresolved dotted reference into it
                continue
            widx = _module_index(repo, "WORKTREE", rel2)
            oidx = _module_index(repo, commit, rel2)
            nd = (widx or {}).get("defs", {}).get(name2)
            if nd is None:
                continue  # reached name is not a top-level def anymore
            od = (oidx or {}).get("defs", {}).get(name2)
            if od is None or nd["dump"] == "" or od["dump"] != nd["dump"]:
                diffs.add(rel2)
        return frozenset(diffs)

    def _recency(n: str, diffs: frozenset[str] | None) -> int:
        pool = diffs if diffs else files.get(n, frozenset())
        return max((file_last_change(repo, f) for f in pool), default=0)

    entry_diffs = {n: _diff_files(n) for n in changed}
    precise = [n for n in changed if entry_diffs[n] is None or entry_diffs[n]]
    precise_set = set(precise)
    file_only = [n for n in changed if n not in precise_set]
    precise.sort(
        key=lambda n: (
            n not in oracles,
            -_recency(n, entry_diffs[n]),
            latest[n].get("round", 0),
            idx[n],
        )
    )
    file_only.sort(
        key=lambda n: (n not in oracles, latest[n].get("round", 0), idx[n])
    )
    unchanged.sort(
        key=lambda n: (n not in oracles, latest[n].get("round", 0), idx[n])
    )
    return reattest + fresh_oracle + fresh_rows + precise + file_only + unchanged
