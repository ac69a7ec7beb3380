"""__spark_entry__ driver-contract gate: the three functions the driver
calls must keep their shapes — entry() returns a DataFrame with rows,
every oracle key names a registered query, and the never-driver-certified
queries stay ahead of the certified ones so rotation completes coverage.
"""

from __future__ import annotations

import __spark_entry__ as e


def test_entry_returns_rows(spark):
    df = e.entry(spark)
    assert [f.name for f in df.schema.fields] == ["nation", "revenue"]
    assert len(df.collect()) > 0


def test_queries_and_oracles_consistent():
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert all(callable(fn) for fn in q.values())
    assert all(isinstance(sql, str) and "SELECT" in sql.upper() for sql in o.values())


def test_uncertified_queries_registered_first():
    """The round's certification prefix (never-driver-sampled + freshly
    fixed queries) must lead the registration order, in its exact order,
    with everything already certified after it and nothing dropped."""
    names = list(e.queries())
    prefix = e._CERT_PREFIX
    assert len(prefix) == 50
    assert names[: len(prefix)] == prefix
    assert set(prefix) <= set(names)
    # prefix entries must be unique (a duplicate silently burns a slot)
    assert len(prefix) == len(set(prefix))
