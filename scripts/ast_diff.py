"""Enumerate registered queries whose source changed between two git
refs — the changed-since-green detector behind the grading rotation.

For each `@register("name", ...)`-decorated function in
hbase_sep_spark/ at REF_A and REF_B, compares the full source segment
(decorators INCLUDING the oracle SQL literal + body) and the helpers
it resolves to: every name the segment loads that its own module
defines at top level (a function or an assignment, or a
`from hbase_sep_spark.queries.X import name` of one), followed
through the names those definitions load in turn. Helpers compare by
their AST with docstrings dropped, so a comment or docstring edit
moves nothing.

A name whose segment or resolved helpers differ (or is new) is
"changed": per the rotation policy it outranks any stale green in
`_GRADE_FIRST`, because its last driver grade no longer covers the
code that will run. A name with the same segment and the same
resolved helpers in a different file is "moved": listed apart, and
not counted as changed.

Usage:
    python scripts/ast_diff.py REF_A REF_B [--graded CORRECTNESS.json ...]

Also lists the queries whose own segment is unchanged but which call a
top-level function in hbase_sep_spark/operators/ whose source changed
(directly, or through another operators/ function that calls it):
those consumers change ast-invisibly and count as changed too.

With --graded files, also prints the subset NOT re-graded since the
change (the names that must lead the next round's prefix).
"""

from __future__ import annotations

import argparse
import ast
import copy
import json
import subprocess
from dataclasses import dataclass

QUERIES_PKG = "hbase_sep_spark.queries"


def _modules(commit: str, prefix: str):
    """(path, source, ast) for every parseable .py file under `prefix`."""
    files = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", commit, prefix],
        capture_output=True, text=True, check=True,
    ).stdout.split()
    for f in files:
        if not f.endswith(".py"):
            continue
        src = subprocess.run(
            ["git", "show", f"{commit}:{f}"], capture_output=True, text=True
        ).stdout
        try:
            yield f, src, ast.parse(src)
        except SyntaxError:
            continue


def _called(node: ast.AST) -> set[str]:
    """Names called inside `node`: `f(...)` and `mod.f(...)` alike."""
    return {
        getattr(c.func, "id", getattr(c.func, "attr", ""))
        for c in ast.walk(node)
        if isinstance(c, ast.Call)
    }


def _queries_imports(body) -> dict[str, tuple[str, str]]:
    """alias -> (module, name) for each `from hbase_sep_spark.queries.X
    import name` among `body`."""
    return {
        a.asname or a.name: (n.module, a.name)
        for n in body
        if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(QUERIES_PKG + ".")
        for a in n.names
    }


def _free(node: ast.AST) -> tuple[set[str], dict[str, tuple[str, str]]]:
    """The names `node` loads without binding them itself, and the
    query-module imports inside a function."""
    if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}, {}
    bound = {n.id for n in ast.walk(node)
             if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load)}
    bound |= {n.arg for n in ast.walk(node) if isinstance(n, ast.arg)}
    loads = {n.id for n in ast.walk(node) if isinstance(n, ast.Name)
             and isinstance(n.ctx, ast.Load)}
    return loads - bound, _queries_imports(ast.walk(node))


def _code(node: ast.AST) -> str:
    """The AST of a top-level definition with every docstring dropped."""
    node = copy.deepcopy(node)
    for n in ast.walk(node):
        body = getattr(n, "body", None)
        if (isinstance(body, list) and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            n.body = body[1:] or [ast.Pass()]
    return ast.dump(node)


class _Scope:
    """The top-level definitions of one module, and the names it
    imports from sibling query modules."""

    def __init__(self, tree: ast.Module):
        self.defs: dict[str, ast.AST] = {}
        for n in tree.body:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[n.name] = n
            elif isinstance(n, (ast.Assign, ast.AnnAssign)):
                targets = n.targets if isinstance(n, ast.Assign) else [n.target]
                for t in targets:
                    if isinstance(t, ast.Name):
                        self.defs[t.id] = n
        self.imports = _queries_imports(tree.body)


def _resolved(node: ast.AST, module: str, scopes: dict[str, _Scope]) -> frozenset:
    """(name, code) of every module-level helper `node` reaches, read in
    the module that defines it, transitively."""
    out: set[tuple[str, str]] = set()
    todo: list[tuple[str, str]] = []
    seen: set[tuple[str, str]] = set()

    def visit(n: ast.AST, mod: str) -> None:
        names, local_imports = _free(n)
        todo.extend(local_imports[name][::-1] if name in local_imports else (name, mod)
                    for name in names)

    visit(node, module)
    while todo:
        name, mod = todo.pop()
        if (name, mod) in seen or mod not in scopes:
            continue
        seen.add((name, mod))
        scope = scopes[mod]
        if name in scope.imports:
            todo.append(scope.imports[name][::-1])
            continue
        helper = scope.defs.get(name)
        if helper is None or helper is node:
            continue
        out.add((name, _code(helper)))
        visit(helper, mod)
    return frozenset(out)


@dataclass(frozen=True)
class Segment:
    file: str
    source: str
    helpers: frozenset
    calls: frozenset


def register_segments(commit: str) -> dict[str, Segment]:
    """name -> Segment for every register() site at `commit`."""
    parsed = list(_modules(commit, "hbase_sep_spark/"))
    scopes = {f[:-3].replace("/", "."): _Scope(tree) for f, _, tree in parsed}
    out: dict[str, Segment] = {}
    for f, src, tree in parsed:
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for dec in node.decorator_list:
                if not isinstance(dec, ast.Call):
                    continue
                fn = dec.func
                name = getattr(fn, "id", getattr(fn, "attr", ""))
                if name == "register" and dec.args and isinstance(dec.args[0], ast.Constant):
                    seg = ast.get_source_segment(src, node) or ""
                    decs = "\n".join(
                        ast.get_source_segment(src, d) or "" for d in node.decorator_list
                    )
                    out[dec.args[0].value] = Segment(
                        f, decs + "\n" + seg,
                        _resolved(node, f[:-3].replace("/", "."), scopes),
                        frozenset(_called(node)),
                    )
    return out


def operator_functions(commit: str) -> dict[str, tuple[str, set[str]]]:
    """name -> (source, called names) for every top-level function in
    hbase_sep_spark/operators/ at `commit`."""
    out: dict[str, tuple[str, set[str]]] = {}
    for _, src, tree in _modules(commit, "hbase_sep_spark/operators/"):
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[node.name] = (ast.get_source_segment(src, node) or "", _called(node))
    return out


def changed_operators(ref_a: str, ref_b: str) -> set[str]:
    """operators/ functions whose source changed (or is new) between
    the refs, plus every operators/ function that calls one of them."""
    a, b = operator_functions(ref_a), operator_functions(ref_b)
    changed = {n for n in b if n not in a or a[n][0] != b[n][0]}
    while more := {n for n in b if n not in changed and b[n][1] & changed}:
        changed |= more
    return changed


def classify(a: dict[str, Segment], b: dict[str, Segment]) -> tuple[list[str], list[str]]:
    """(changed, moved) names of `b` against `a`."""
    changed, moved = [], []
    for n in sorted(b):
        old, new = a.get(n), b[n]
        if old is None or (old.source, old.helpers) != (new.source, new.helpers):
            changed.append(n)
        elif old.file != new.file:
            moved.append(n)
    return changed, moved


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ref_a")
    ap.add_argument("ref_b")
    ap.add_argument("--graded", nargs="*", default=[],
                    help="CORRECTNESS_*.json files from rounds AFTER ref_a")
    args = ap.parse_args()

    a = register_segments(args.ref_a)
    b = register_segments(args.ref_b)
    changed, moved = classify(a, b)
    removed = sorted(n for n in a if n not in b)
    print(f"changed {args.ref_a}..{args.ref_b}: {len(changed)}")
    for n in changed:
        helpers = sorted({h for h, _ in b[n].helpers ^ a[n].helpers}) if n in a else []
        print(f"  {n}  ({b[n].file}{': ' + ', '.join(helpers) if helpers else ''})")
    print(f"moved, unchanged {args.ref_a}..{args.ref_b}: {len(moved)}")
    for n in moved:
        print(f"  {n}  ({a[n].file} -> {b[n].file})")
    if removed:
        print(f"REMOVED (registry must never shrink!): {removed}")
    # A helper change dirties its consumers with no change to their
    # own segments: list the unchanged queries that call a changed
    # operators/ function, and count them as changed.
    ops = changed_operators(args.ref_a, args.ref_b)
    consumers = sorted(n for n in b if n not in changed and b[n].calls & ops)
    if consumers:
        print(f"calling a changed operators/ function ({', '.join(sorted(ops))}): {len(consumers)}")
        for n in consumers:
            print(f"  {n}  ({b[n].file}: {', '.join(sorted(b[n].calls & ops))})")
        changed = sorted(changed + consumers)
    if args.graded:
        graded: set[str] = set()
        for path in args.graded:
            graded |= set(json.load(open(path)))
        pending = [n for n in changed if n not in graded]
        print(f"\nchanged but NOT re-graded ({len(pending)}) — lead the next prefix:")
        for n in pending:
            print(f"  {n}")


if __name__ == "__main__":
    main()
