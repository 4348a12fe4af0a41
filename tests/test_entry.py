"""The driver contract's query registry: every family, loudly."""

from __future__ import annotations

import __spark_entry__ as E


def test_queries_and_oracles_cover_every_family():
    """queries() and oracle_sql() import every query family plainly, so
    a broken family import fails here instead of silently shrinking the
    bench and the oracle sweep."""
    qs, oracles = E.queries(), E.oracle_sql()
    assert qs.keys() == oracles.keys()
    assert len(qs) >= 188
