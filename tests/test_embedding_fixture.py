"""Class ``embedding`` of tests/mutations.py: NULL, ragged and non-finite embedding rows."""

from __future__ import annotations

from tests.mutations import compare


test_hostile_embeddings_match_oracle = compare("embedding")
