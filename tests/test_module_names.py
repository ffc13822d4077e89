"""Every query module is named for the family it holds."""

from __future__ import annotations

import pathlib
import re


def test_query_modules_are_named_for_their_family():
    """No module under queries/ is named for the round that wrote it
    or for no family: no `analytics_*` / `advanced_*` stem, no `_rN`,
    no trailing digit."""
    import hbase_sep_spark.queries

    root = pathlib.Path(hbase_sep_spark.queries.__file__).parent
    offenders = [
        p.name
        for p in sorted(root.glob("*.py"))
        if p.stem.startswith(("analytics_", "advanced_"))
        or re.search(r"_r\d", p.stem)
        or p.stem[-1].isdigit()
    ]
    assert offenders == []
