"""Mutation tests, in both senses the engine uses the word.

1. Delete/tombstone semantics (queries/mutations.py,
   operators/sep_model.py, stream_latest_op_wins). The invariant: a
   key whose newest mutation is a delete is ABSENT from the snapshot;
   a put newer than the tombstone revives it; DeleteColumn kills one
   qualifier, DeleteFamily the row.
2. Hostile-input fixtures (tests/mutations.py): the checks on the
   MUTATIONS table itself. The compares and each class's own checks
   live in the tests/test_*_fixture.py modules.
"""

from __future__ import annotations

import datetime as dt
import glob
import importlib
import os

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_UNIT
from tests.mutations import MUTATIONS


def _mutation_feed(spark):
    """Hand-built feed with every masking case:
    user 1: put, put            -> survives with second value
    user 2: put, DELETE         -> absent (tombstone is newest)
    user 3: put, DELETE, put    -> revived by the newer put
    user 4: DELETE only         -> absent
    """
    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0, 1, "click", 10.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 1, "click", 11.0, "{}"),
        (3, t0, 2, "click", 20.0, "{}"),
        (4, t0 + dt.timedelta(minutes=1), 2, "error", 0.0, "{}"),
        (5, t0, 3, "click", 30.0, "{}"),
        (6, t0 + dt.timedelta(minutes=1), 3, "error", 0.0, "{}"),
        (7, t0 + dt.timedelta(minutes=2), 3, "purchase", 31.0, "{}"),
        (8, t0, 4, "error", 0.0, "{}"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )


def test_latest_op_wins_masking(spark):
    from hbase_sep_spark.operators.sep_model import latest_op_wins

    ev = _mutation_feed(spark).withColumn(
        "op", F.when(F.col("event_type") == "error", F.lit("delete_family")).otherwise(F.lit("put"))
    )
    snap = {r.user_id: r.value for r in latest_op_wins(ev).collect()}
    assert snap == {1: 11.0, 3: 31.0}  # 2 and 4 tombstoned


def test_cell_model_tombstone_roundtrip(spark):
    from hbase_sep_spark.operators.sep_model import from_sep_events, to_sep_events

    op = F.when(F.col("event_type") == "error", F.lit("delete_family")).otherwise(F.lit("put"))
    ev = _mutation_feed(spark)
    sep = to_sep_events(ev, op=op)
    # Tombstone events carry exactly one value-less cell and no payload.
    tomb = sep.filter(F.col("op") == "delete_family")
    assert tomb.count() == 3
    bad = tomb.filter(
        (F.size("key_values") != 1)
        | F.col("payload").isNotNull()
        | F.element_at("key_values", 1)["value"].isNotNull()
    )
    assert bad.count() == 0
    # Roundtrip: puts come back typed, deletes come back as NULL fields
    # with op preserved.
    back = from_sep_events(sep)
    puts = back.filter(F.col("op") == "put")
    assert puts.filter(F.col("event_id").isNull() | F.col("value").isNull()).count() == 0
    dels = back.filter(F.col("op") == "delete_family")
    assert dels.count() == 3
    assert dels.filter(F.col("event_id").isNotNull() | F.col("value").isNotNull()).count() == 0


def test_delete_column_vs_family(spark):
    """DeleteColumn masks one qualifier; the row's other cells live."""
    from hbase_sep_spark.operators.sep_model import to_sep_events

    op = F.when(F.col("event_type") == "error", F.lit("delete_column")).otherwise(F.lit("put"))
    sep = to_sep_events(_mutation_feed(spark), op=op)
    tomb_cells = sep.filter(F.col("op") == "delete_column").select(
        F.explode("key_values").alias("c")
    )
    assert tomb_cells.count() == 3
    named = tomb_cells.filter(
        (F.col("c.qualifier") == "value") & (F.col("c.type") == "delete_column")
    )
    assert named.count() == 3


def test_registered_queries_agree_with_oracle_semantics(spark):
    """events_latest_op_wins over the real fixture: every user whose
    newest event is an error must be absent; everyone else present."""
    from hbase_sep_spark.registry import load_all

    reg = load_all()
    snap = reg["events_latest_op_wins"].fn(spark, SF_UNIT)
    from hbase_sep_spark.io import t

    ev = t(spark, SF_UNIT, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    newest = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    expected_absent = {r.user_id for r in newest.filter(F.col("event_type") == "error").collect()}
    expected_present = {r.user_id for r in newest.filter(F.col("event_type") != "error").collect()}
    got = {r.user_id for r in snap.select("user_id").collect()}
    assert got == expected_present
    assert not (got & expected_absent)


@pytest.mark.slow
def test_stream_latest_op_wins_matches_batch(spark):
    """The streaming tombstone consumer converges to the batch
    snapshot: same surviving keys, same final (event_id, value)."""
    from hbase_sep_spark.registry import load_all

    reg = load_all()
    stream = reg["stream_latest_op_wins"].fn(spark, SF_UNIT)
    batch = reg["events_latest_op_wins"].fn(spark, SF_UNIT)
    got = {(r.user_id, r.last_event_id, r.last_value) for r in stream.collect()}
    want = {(r.user_id, r.event_id, r.value) for r in batch.collect()}
    assert got == want


# ---- the hostile-input table (tests/mutations.py) -------------------


def test_table_rejects_bad_entries():
    """The import-time guard: no pins, an unregistered pin, a pin listed
    twice, or a class defined twice would each silently shrink the matrix."""
    from tests.mutations import Mutation, _index

    for table in (
        [Mutation("a", "", ())],
        [Mutation("a", "", ("no_such_query",))],
        [Mutation("a", "", ("agg_global", "agg_global"))],
        [Mutation("a", "", ("agg_global",)), Mutation("a", "", ("agg_cube",))],
    ):
        with pytest.raises(RuntimeError):
            _index(table)


def test_every_class_is_compared_once():
    """Each class is bound by exactly one compare() across the
    tests/test_*_fixture.py modules, so no class drops out of the matrix."""
    seen = []
    for path in sorted(glob.glob(os.path.join(os.path.dirname(__file__), "test_*_fixture.py"))):
        mod = importlib.import_module(f"tests.{os.path.basename(path)[:-3]}")
        seen += [c for v in vars(mod).values() for c in getattr(v, "mutation_classes", ())]
    assert sorted(seen) == sorted(MUTATIONS)
