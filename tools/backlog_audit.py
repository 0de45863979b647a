#!/usr/bin/env python
"""Which catalog queries changed since the last tree the driver verified.

The anchor is the commit that added the newest CORRECTNESS_r*.json.  A
file's *segments* are its top-level defs and classes (decorators, and so a
query's oracle SQL, included) and its top-level assignments (module
constants); everything else in the file is its *residue*.

A query *reaches* its builder's segment and, from every segment it
reaches, read from the AST (a docstring or comment mention is not a
reference):
  - each same-file segment whose name the code uses, or that a string
    literal equal to its name looks up (`REGISTRY_LOOKUP("name")`);
  - `dep.py:name` for each `from pkg.dep import name` binding it uses;
  - `dep.py:attr` for each `mod.attr` on a module binding it uses.  A bare
    use of a module binding, or a name the rule cannot resolve, reaches
    every segment of the file.

A query is *changed* when a segment it reaches differs from the anchor
("builder", "helper:<name>" in the builder's file, "<file>:<name>"
elsewhere) or when the residue of a file it reaches differs ("<file>").
Both are compared as code, by `ast.dump` with every module, class and
function docstring dropped, so a docstring, comment or blank-line edit
changes nothing.  A builder absent at the anchor is changed.

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
WHOLE = "*"  # the node that reaches every segment of its file
DOC_OWNERS = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_rel_file(modname: str, repo: str = REPO) -> str | None:
    rel = modname.replace(".", "/")
    for cand in (rel + ".py", os.path.join(rel, "__init__.py")):
        if os.path.exists(os.path.join(repo, cand)):
            return cand
    return None


def _git(repo: str, *args: str) -> str:
    return subprocess.run(
        ["git", "-C", repo, *args], capture_output=True, text=True, check=True
    ).stdout


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


def _split(src: str) -> tuple[dict[str, str], str, dict[str, list[ast.stmt]], list[ast.stmt]]:
    """(name -> the segment's statements as `ast.dump` text, the residue's
    statements likewise, name -> the segment's statements, the residue's
    statements) of `src`, with every docstring dropped; a name bound by
    several top-level statements owns them all.  A file that does not
    parse is all residue, compared as text."""
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return {}, src, {}, []
    for node in ast.walk(tree):
        if isinstance(node, DOC_OWNERS) and ast.get_docstring(node, clean=False) is not None:
            node.body = node.body[1:]
    stmts: dict[str, list[ast.stmt]] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [
                n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
            ]
        else:
            continue
        for name in names:
            stmts.setdefault(name, []).append(node)

    def dump(nodes: list[ast.stmt]) -> str:
        return "\n".join(ast.dump(s) for s in nodes)

    owned = {id(s) for ss in stmts.values() for s in ss}
    rest = [s for s in tree.body if id(s) not in owned]
    return {n: dump(ss) for n, ss in stmts.items()}, dump(rest), stmts, rest


def _bindings(stmts: list[ast.stmt], repo: str) -> dict[str, tuple[str, str | None]]:
    """Local name -> (repo-relative file, attr) for every package-internal
    import in `stmts`; attr is None for a module binding."""
    out: dict[str, tuple[str, str | None]] = {}
    for node in (n for s in stmts for n in ast.walk(s)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG) and (f := _module_rel_file(a.name, repo)):
                    out[a.asname or a.name.split(".")[0]] = (f, None)
        elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(PKG):
            mod_file = _module_rel_file(node.module, repo)
            for a in node.names:
                if sub := _module_rel_file(f"{node.module}.{a.name}", repo):
                    out[a.asname or a.name] = (sub, None)
                elif mod_file:
                    out[a.asname or a.name] = (mod_file, a.name)
    return out


def _uses(stmts: list[ast.stmt]) -> tuple[set[str], set[tuple[str, str]], set[str], set[str]]:
    """(names, (name, attr) pairs, names used other than as `name.attr`,
    string literals) in the code of one segment."""
    names, attrs, bare, strings = set(), set(), set(), set()
    under_attr: set[int] = set()
    for node in (n for s in stmts for n in ast.walk(s)):  # a parent precedes its children
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            attrs.add((node.value.id, node.attr))
            under_attr.add(id(node.value))
        elif isinstance(node, ast.Name):
            names.add(node.id)
            if id(node) not in under_attr:
                bare.add(node.id)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            strings.add(node.value)
    return names, attrs, bare, strings


def _anchor_commit(rnd: int, repo: str = REPO) -> str | None:
    fname = f"CORRECTNESS_r{rnd:02d}.json"
    try:
        log = _git(repo, "log", "--diff-filter=A", "--format=%H", "--", fname)
        return log.split()[-1] if log.split() else None
    except (subprocess.CalledProcessError, OSError):
        return None


def changed_queries(repo: str = REPO, builders: dict | None = None) -> dict[str, list[str]] | None:
    """name -> sorted reasons for every query in `builders` (name -> build
    function; default the whole registry) whose reached code changed
    since the anchor.  None when the anchor cannot be resolved (no git
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

    files: dict[str, tuple] = {}  # rel -> (segs, residue, stmts, bindings, old segs, old residue)
    edges_memo: dict[tuple[str, str], set[tuple[str, str]]] = {}

    def load(rel: str) -> tuple:
        if rel not in files:
            src = _file_at(rel, None, repo)
            segs, residue, stmts, rest = _split(src)
            old = _split(_file_at(rel, anchor, repo))[:2] if rel in changed else (segs, residue)
            files[rel] = (segs, residue, stmts, _bindings(rest, repo), *old)
        return files[rel]

    def resolve(rel: str, name: str) -> tuple[str, str]:
        """The node `rel`'s attribute `name` stands for."""
        segs, _, _, binds, _, _ = load(rel)
        if name in segs:
            return rel, name
        if name in binds:
            dep, attr = binds[name]
            return resolve(dep, attr) if attr else (dep, WHOLE)
        return rel, WHOLE

    def edges(node: tuple[str, str]) -> set[tuple[str, str]]:
        if node not in edges_memo:
            rel, name = node
            segs, _, stmts, binds, old, _ = load(rel)
            if name == WHOLE:
                edges_memo[node] = {(rel, s) for s in set(segs) | set(old)}
                return edges_memo[node]
            own = stmts.get(name, [])  # none for a segment only the anchor has
            names, attrs, bare, strings = _uses(own)
            binds = {**binds, **_bindings(own, repo)}  # its own imports too
            out = {(rel, n) for n in names | strings if n in segs}
            for n in names & set(binds):
                dep, attr = binds[n]
                if attr:
                    out.add(resolve(dep, attr))
                else:
                    out |= {resolve(dep, a) for m, a in attrs if m == n}
                    if n in bare:
                        out.add((dep, WHOLE))
            edges_memo[node] = out
        return edges_memo[node]

    out: dict[str, list[str]] = {}
    for name, build in sorted(builders.items()):
        src_file = inspect.getsourcefile(build)
        if not src_file:
            continue
        rel = os.path.relpath(src_file, repo)
        start = (rel, build.__name__) if build.__name__ in load(rel)[0] else (rel, WHOLE)
        reach, frontier = {start}, [start]
        while frontier:
            for nxt in edges(frontier.pop()) - reach:
                reach.add(nxt)
                frontier.append(nxt)
        reasons: set[str] = set()
        for f, seg in reach:
            segs, residue, _, _, old, old_residue = load(f)
            if residue != old_residue:
                reasons.add(f)
            if seg == WHOLE or segs.get(seg) == old.get(seg):
                continue
            if f != rel:
                reasons.add(f"{f}:{seg}")
            else:
                reasons.add("builder" if seg == build.__name__ else f"helper:{seg}")
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
