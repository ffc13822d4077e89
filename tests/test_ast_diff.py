"""scripts/ast_diff.py tells a moved query from a changed one, on a
two-commit git repo: a verbatim move is "moved", a move onto a
different same-named helper is "changed", and so is an edit to a
helper constant a query reaches through another helper."""

from __future__ import annotations

import subprocess

import pytest

from scripts.ast_diff import classify, register_segments

BEFORE = {
    "hbase_sep_spark/queries/old.py": '''
from hbase_sep_spark.registry import register

_H = 1


def _rev():
    """Exact revenue."""
    return "CAST(p * (1 - d) AS DECIMAL(18,6))"


@register("q_move", section="2.4")
def q_move(spark, sf_dir):
    return _H


@register("q_trap", section="2.3")
def q_trap(spark, sf_dir):
    return _rev()
''',
    "hbase_sep_spark/queries/base.py": '''
from hbase_sep_spark.registry import register

_SQL = "SELECT 1"


def _daily():
    return _SQL


@register("q_const", section="2.5")
def q_const(spark, sf_dir):
    return _daily()


@register("q_same", section="2.5")
def q_same(spark, sf_dir):
    return 0
''',
}

AFTER = {
    "hbase_sep_spark/queries/aggregates.py": '''
from hbase_sep_spark.registry import register

_H = 1


@register("q_move", section="2.4")
def q_move(spark, sf_dir):
    return _H
''',
    "hbase_sep_spark/queries/joins.py": '''
from hbase_sep_spark.registry import register


def _rev():
    """A docstring edit alone changes nothing; the missing cast does."""
    return "p * (1 - d)"


@register("q_trap", section="2.3")
def q_trap(spark, sf_dir):
    return _rev()
''',
    "hbase_sep_spark/queries/base.py": BEFORE["hbase_sep_spark/queries/base.py"].replace(
        '_SQL = "SELECT 1"', '_SQL = "SELECT 2"'
    ),
}


def _commit(repo, files: dict[str, str]) -> str:
    for p in repo.rglob("*.py"):
        p.unlink()
    for rel, text in files.items():
        (repo / rel).parent.mkdir(parents=True, exist_ok=True)
        (repo / rel).write_text(text)
    git = ["git", "-c", "user.name=t", "-c", "user.email=t@t", "-C", str(repo)]
    subprocess.run(git + ["add", "-A"], check=True)
    subprocess.run(git + ["commit", "-qm", "c"], check=True)
    return subprocess.run(git + ["rev-parse", "HEAD"], check=True,
                          capture_output=True, text=True).stdout.strip()


@pytest.fixture(scope="module")
def verdict(tmp_path_factory):
    repo = tmp_path_factory.mktemp("ast_diff_repo")
    subprocess.run(["git", "init", "-q", str(repo)], check=True)
    a, b = _commit(repo, BEFORE), _commit(repo, AFTER)
    with pytest.MonkeyPatch.context() as mp:
        mp.chdir(repo)
        changed, moved = classify(register_segments(a), register_segments(b))
    return set(changed), set(moved)


def test_plain_move_is_moved(verdict):
    changed, moved = verdict
    assert "q_move" in moved and "q_move" not in changed
    assert "q_same" not in changed | moved


def test_move_onto_different_same_named_helper_is_changed(verdict):
    changed, moved = verdict
    assert "q_trap" in changed and "q_trap" not in moved


def test_helper_constant_edit_marks_consumer_changed(verdict):
    changed, moved = verdict
    assert "q_const" in changed
