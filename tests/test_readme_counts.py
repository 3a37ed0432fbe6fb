"""The README's query-surface heading states the registry's counts."""

from __future__ import annotations

import re
from pathlib import Path

import __spark_entry__ as em


def test_readme_query_counts_match_registry():
    readme = (Path(__file__).resolve().parent.parent / "README.md").read_text()
    m = re.search(
        r"^## Query surface \((\d+) registered, (\d+) DuckDB-oracle-checked\)$",
        readme,
        re.M,
    )
    assert m, "README query-surface heading not found"
    queries, oracles = em.queries(), em.oracle_sql()
    n_checked = sum(1 for name in queries if oracles.get(name))
    assert (int(m.group(1)), int(m.group(2))) == (len(queries), n_checked)
