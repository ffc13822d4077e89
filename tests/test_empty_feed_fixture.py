"""Class ``empty_feed`` of tests/mutations.py: zero-row events, documents and embeddings."""

from __future__ import annotations

import pytest

from tests.conftest import SF_UNIT
from tests.mutations import compare

test_empty_feed_matches_oracle = compare("empty_feed")


@pytest.mark.parametrize(
    "name", ["stream_foreach_batch_sink", "stream_incremental_upsert_view", "stream_scd2_maintain"]
)
def test_empty_feed_sink_keeps_the_columns(name, spark, mutated):
    """A sink no micro-batch wrote reads back as zero rows in the
    columns and types a non-empty run returns."""
    from hbase_sep_spark.registry import load_all

    fn = load_all()[name].fn
    empty = fn(spark, mutated("empty_feed"))
    assert empty.count() == 0
    full = fn(spark, SF_UNIT)
    assert [(f.name, f.dataType) for f in empty.schema] == [(f.name, f.dataType) for f in full.schema]
