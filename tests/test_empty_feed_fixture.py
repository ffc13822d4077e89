"""Class ``empty_feed`` of tests/mutations.py: zero-row events, documents and embeddings."""

from __future__ import annotations

from tests.mutations import compare


test_empty_feed_matches_oracle = compare("empty_feed")
