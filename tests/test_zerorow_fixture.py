"""Classes ``zerorow*`` of tests/mutations.py: every table, only a dim, only the
feed or only the corpus empty."""

from __future__ import annotations

from tests.mutations import compare


test_all_empty_matches_oracle = compare("zerorow")
test_empty_dim_matches_oracle = compare("zerorow_region")
test_empty_table_matches_oracle = compare("zerorow_events", "zerorow_documents")
