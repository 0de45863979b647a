#!/usr/bin/env python
"""Which catalog queries changed since the last tree the driver verified.

The anchor is the commit that added the newest CORRECTNESS_r*.json.  A
query is *changed* when, between the anchor and the working tree:
  (a) its builder's own top-level def changed, its @register decorator
      and oracle SQL included (a builder absent at the anchor counts as
      changed),
  (b) a top-level def in the builder's file that the builder names
      changed ("helper:<name>"), or
  (c) the builder names an imported package binding whose file's
      package-internal import closure contains a changed file (the
      reason is the bound file).  When the binding is a def of the bound
      file, that file is the only changed one and its non-def code is
      unchanged, only the def and the same-file defs it reaches
      transitively by name count.

tests/test_oracle_parity.py runs every changed oracle query outside
DRIVER_WINDOW in the default suite.

Run:  python tools/backlog_audit.py   # the changed queries with reasons
"""

from __future__ import annotations

import ast
import glob
import inspect
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:  # `python tools/backlog_audit.py` puts tools/ first
    sys.path.insert(0, REPO)

PKG = "real_time_big_data_iot_monitoring_pipeline_spark"


def _module_rel_file(modname: str, repo: str = REPO) -> str | None:
    rel = modname.replace(".", "/")
    for cand in (rel + ".py", os.path.join(rel, "__init__.py")):
        if os.path.exists(os.path.join(repo, cand)):
            return cand
    return None


def _direct_imports(rel: str, repo: str = REPO) -> set[str]:
    """Package-internal files imported by `rel` (repo-relative paths)."""
    try:
        tree = ast.parse(open(os.path.join(repo, rel)).read())
    except (OSError, SyntaxError):
        return set()
    mods: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods.update(a.name for a in node.names if a.name.startswith(PKG))
        elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(PKG):
            mods.add(node.module)
            # `from pkg.operators import dedup` names a submodule, not an attr
            mods.update(f"{node.module}.{a.name}" for a in node.names)
    return {f for m in mods if (f := _module_rel_file(m, repo))}


def _dep_closure(rel: str, repo: str = REPO, _memo: dict | None = None) -> set[str]:
    memo = _memo if _memo is not None else {}
    if rel in memo:
        return memo[rel]
    memo[rel] = {rel}  # break cycles
    out = {rel}
    for dep in _direct_imports(rel, repo):
        out |= _dep_closure(dep, repo, memo)
    memo[rel] = out
    return out


def _git(repo: str, *args: str) -> str:
    return subprocess.run(
        ["git", "-C", repo, *args], capture_output=True, text=True, check=True
    ).stdout


def _def_lines(src: str) -> dict[str, range] | None:
    """name -> 0-based line range of every top-level def/class in `src`,
    decorators included (a query's @register carries its oracle SQL);
    None when `src` does not parse."""
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return None
    return {
        node.name: range((node.decorator_list or [node])[0].lineno - 1, node.end_lineno)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }


def _non_def_residue(src: str) -> str:
    """The module source with every top-level def/class segment removed —
    the imports/constants a def could close over."""
    spans = _def_lines(src)
    if spans is None:
        return src
    drop = set().union(*spans.values())
    return "\n".join(l for i, l in enumerate(src.splitlines()) if i not in drop)


def _top_level_defs(src: str) -> dict[str, str]:
    """name -> source segment for every top-level def/class in `src`."""
    lines = src.splitlines()
    return {name: "\n".join(lines[r.start : r.stop]) for name, r in (_def_lines(src) or {}).items()}


def _file_at(rel: str, commit: str | None, repo: str = REPO) -> str:
    if commit is None:
        try:
            return open(os.path.join(repo, rel)).read()
        except OSError:
            return ""
    try:
        return _git(repo, "show", f"{commit}:{rel}")
    except subprocess.CalledProcessError:
        return ""


def _import_bindings(rel: str, repo: str = REPO) -> dict[str, str]:
    """Local binding name -> repo-relative file, for every package-internal
    import in `rel` (e.g. `from pkg.sources import pydatasource as pyds`
    yields {'pyds': 'pkg/sources/pydatasource.py'})."""
    try:
        tree = ast.parse(open(os.path.join(repo, rel)).read())
    except (OSError, SyntaxError):
        return {}
    out: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG) and (f := _module_rel_file(a.name, repo)):
                    out[a.asname or a.name.split(".")[0]] = f
        elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(PKG):
            mod_file = _module_rel_file(node.module, repo)
            for a in node.names:
                # `from pkg.operators import windows` binds a submodule;
                # `from pkg.operators.windows import rolling_mean` binds an
                # attr — charge it to the defining module's file either way.
                sub = _module_rel_file(f"{node.module}.{a.name}", repo)
                if sub or mod_file:
                    out[a.asname or a.name] = sub or mod_file
    return out


def _anchor_commit(rnd: int, repo: str = REPO) -> str | None:
    fname = f"CORRECTNESS_r{rnd:02d}.json"
    try:
        log = _git(repo, "log", "--diff-filter=A", "--format=%H", "--", fname)
        return log.split()[-1] if log.split() else None
    except (subprocess.CalledProcessError, OSError):
        return None


def _names(name: str, src: str) -> bool:
    return re.search(rf"\b{re.escape(name)}\b", src) is not None


def _same_file_reach(binding: str, old_defs: dict[str, str], new_defs: dict[str, str]) -> set[str]:
    """`binding` plus every def of the same file reachable from it by name,
    transitively (a helper calling a changed sibling-of-sibling counts)."""
    all_defs = set(old_defs) | set(new_defs)
    reach = {binding}
    frontier = [binding]
    while frontier:
        body = new_defs.get((d := frontier.pop()), old_defs.get(d, ""))
        for s in all_defs - reach:
            if _names(s, body):
                reach.add(s)
                frontier.append(s)
    return reach


def changed_queries(repo: str = REPO, builders: dict | None = None) -> dict[str, list[str]] | None:
    """name -> sorted reasons for every query in `builders` (name -> build
    function; default the whole registry) whose implementation changed
    since the anchor.  Reasons: "builder", "helper:<def>", or a bound
    repo-relative file.  None when the anchor cannot be resolved (no git
    history)."""
    if builders is None:
        from real_time_big_data_iot_monitoring_pipeline_spark.plans import REGISTRY

        builders = {n: q.build for n, q in REGISTRY.items()}
    rounds = [
        int(re.search(r"_r(\d+)\.json$", f).group(1))
        for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    ]
    anchor = _anchor_commit(max(rounds), repo) if rounds else None
    if anchor is None:
        return None
    # committed and working-tree edits, plus files git does not track yet
    changed = set(_git(repo, "diff", "--name-only", anchor).split())
    changed |= set(_git(repo, "ls-files", "--others", "--exclude-standard").split())

    closure_memo: dict = {}
    defs_cache: dict[tuple[str, str | None], dict[str, str]] = {}
    bindings_cache: dict[str, dict[str, str]] = {}

    def defs(rel: str, commit: str | None) -> dict[str, str]:
        if (rel, commit) not in defs_cache:
            defs_cache[rel, commit] = _top_level_defs(_file_at(rel, commit, repo))
        return defs_cache[rel, commit]

    def binding_unchanged(binding: str, dep_file: str) -> bool:
        old, new = defs(dep_file, anchor), defs(dep_file, None)
        if binding not in old and binding not in new:
            return False  # a module binding: any change in the file counts
        if _non_def_residue(_file_at(dep_file, anchor, repo)) != _non_def_residue(
            _file_at(dep_file, None, repo)
        ):
            return False
        return all(old.get(d) == new.get(d) for d in _same_file_reach(binding, old, new))

    out: dict[str, list[str]] = {}
    for name, build in sorted(builders.items()):
        src_file = inspect.getsourcefile(build)
        if not src_file:
            continue
        rel = os.path.relpath(src_file, repo)
        try:
            builder_src = inspect.getsource(build)
        except (OSError, TypeError):
            builder_src = ""
        reasons: set[str] = set()
        if rel in changed:
            old, new = defs(rel, anchor), defs(rel, None)
            bname = build.__name__
            if old.get(bname) != new.get(bname):
                reasons.add("builder")
            for dname, dsrc in new.items():
                if dname != bname and old.get(dname) != dsrc and _names(dname, builder_src):
                    reasons.add(f"helper:{dname}")
        if rel not in bindings_cache:
            bindings_cache[rel] = _import_bindings(rel, repo)
        for binding, dep_file in sorted(bindings_cache[rel].items()):
            if dep_file in reasons or not _names(binding, builder_src):
                continue
            hits = _dep_closure(dep_file, repo, closure_memo) & changed
            if not hits or (hits == {dep_file} and binding_unchanged(binding, dep_file)):
                continue
            reasons.add(dep_file)
        if reasons:
            out[name] = sorted(reasons)
    return out


def main() -> None:
    from real_time_big_data_iot_monitoring_pipeline_spark.plans import DRIVER_WINDOW, REGISTRY

    changed = changed_queries()
    if changed is None:
        sys.exit("no anchor: git history for CORRECTNESS_r*.json is unavailable")
    print(f"{len(changed)} changed queries since the last verified tree")
    for name, reasons in changed.items():
        if name in DRIVER_WINDOW:
            where = "window"
        else:
            where = "leg" if REGISTRY[name].oracle else "rows-only"
        print(f"  {name} [{where}]: {', '.join(reasons)}")


if __name__ == "__main__":
    main()
