"""Enumerate registered queries whose source changed between two git
refs — the changed-since-green detector behind the grading rotation.

For each `@register("name", ...)`-decorated function in
hbase_sep_spark/ at REF_A and REF_B, compares the full source segment
(decorators INCLUDING the oracle SQL literal + body). A name whose
segment differs (or is new) is "changed": per the rotation policy it
outranks any stale green in `_GRADE_FIRST`, because its last driver
grade no longer covers the code that will run.

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
import json
import subprocess


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


def register_segments(commit: str) -> dict[str, tuple[str, str, set[str]]]:
    """name -> (file, source segment, called names) for every
    register() site at `commit`."""
    out: dict[str, tuple[str, str, set[str]]] = {}
    for f, src, tree in _modules(commit, "hbase_sep_spark/"):
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for dec in node.decorator_list:
                if not isinstance(dec, ast.Call):
                    continue
                fn = dec.func
                name = getattr(fn, "id", getattr(fn, "attr", ""))
                if name == "register" and dec.args and isinstance(dec.args[0], ast.Constant):
                    qname = dec.args[0].value
                    seg = ast.get_source_segment(src, node) or ""
                    decs = "\n".join(
                        ast.get_source_segment(src, d) or "" for d in node.decorator_list
                    )
                    out[qname] = (f, decs + "\n" + seg, _called(node))
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ref_a")
    ap.add_argument("ref_b")
    ap.add_argument("--graded", nargs="*", default=[],
                    help="CORRECTNESS_*.json files from rounds AFTER ref_a")
    args = ap.parse_args()

    a = register_segments(args.ref_a)
    b = register_segments(args.ref_b)
    changed = sorted(n for n in b if n not in a or a[n] != b[n])
    removed = sorted(n for n in a if n not in b)
    print(f"changed {args.ref_a}..{args.ref_b}: {len(changed)}")
    for n in changed:
        print(f"  {n}  ({b[n][0]})")
    if removed:
        print(f"REMOVED (registry must never shrink!): {removed}")
    # A helper change dirties its consumers with no change to their
    # own segments: list the unchanged queries that call a changed
    # operators/ function, and count them as changed.
    ops = changed_operators(args.ref_a, args.ref_b)
    consumers = sorted(n for n in b if n not in changed and b[n][2] & ops)
    if consumers:
        print(f"calling a changed operators/ function ({', '.join(sorted(ops))}): {len(consumers)}")
        for n in consumers:
            print(f"  {n}  ({b[n][0]}: {', '.join(sorted(b[n][2] & ops))})")
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
