"""point_in_time_price oracle-form cross-check (r9 ADVICE, medium).

The skew axis certifies the engine against the union-and-window AS-OF
oracle form (the definitional interval join is quadratic on a hot part
key — it spilled 22 GiB of DuckDB temp and died on the r8 skew corpus),
while every other axis uses the definitional interval join, which shares
no algorithm with the engine. That split only stays honest if the two
oracle FORMS are provably the same function: this test runs both in
DuckDB alone (no Spark) at each driver scale and asserts identical
canonicalized results, so the as-of form remains anchored to the
definitional one every round instead of decaying into a transitive
argument about r8 certificates.

Both SQL strings are taken from importer_spark.queries.pricing verbatim
(_PIT_SQL_INTERVAL / _PIT_SQL_ASOF) — the same text the gates run.
"""

from __future__ import annotations

import pytest

from importer_spark.queries.pricing import _PIT_SQL_ASOF, _PIT_SQL_INTERVAL
from tests.conftest import canonical, duck_con


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_pit_oracle_forms_agree(sf_dir):
    con = duck_con(sf_dir)
    interval = con.execute(_PIT_SQL_INTERVAL).df()
    asof = con.execute(_PIT_SQL_ASOF).df()
    assert sorted(interval.columns) == sorted(asof.columns)
    assert len(interval) == len(asof)
    a, b = canonical(interval), canonical(asof)
    if not a.equals(b):
        diff = (a != b).any(axis=1)
        raise AssertionError(
            "PIT oracle forms disagree; first differing rows:\n"
            f"interval:\n{a[diff].head(5)}\nasof:\n{b[diff].head(5)}"
        )


def test_pit_oracle_forms_agree_under_nulls():
    """The NULL axis is exactly where as-of formulations diverge (the r9
    republish caught the brand-new as-of oracle matching NULL-date facts
    to the newest price because DuckDB sorts NULLS LAST where Spark sorts
    NULLS FIRST — one aborted cycle). Cross-check the two oracle forms on
    deterministically NULL-poisoned copies of the two tables PIT reads:
    ~7% of o_orderdate / l_shipdate / l_quantity / l_extendedprice nulled
    by row-hash, entirely inside DuckDB (no Spark). Covers: facts with no
    date (must drop in both forms), versions whose price is NULL (must
    still cover their interval), and version days deleted by shipdate
    nulls (membership of the version relation itself shifts)."""
    import duckdb

    con = duckdb.connect()
    sf = "/root/testdata/sf0.01"
    con.execute(f"""
        CREATE VIEW orders AS
        SELECT * REPLACE (
          CASE WHEN hash(o_orderkey) % 13 = 0 THEN NULL ELSE o_orderdate END
          AS o_orderdate)
        FROM '{sf}/orders.parquet'
    """)
    con.execute(f"""
        CREATE VIEW lineitem AS
        SELECT * REPLACE (
          CASE WHEN hash(l_orderkey * 7 + l_linenumber) % 13 = 1 THEN NULL
               ELSE l_shipdate END AS l_shipdate,
          CASE WHEN hash(l_orderkey * 7 + l_linenumber) % 13 = 2 THEN NULL
               ELSE l_quantity END AS l_quantity,
          CASE WHEN hash(l_orderkey * 7 + l_linenumber) % 13 = 3 THEN NULL
               ELSE l_extendedprice END AS l_extendedprice)
        FROM '{sf}/lineitem.parquet'
    """)
    interval = con.execute(_PIT_SQL_INTERVAL).df()
    asof = con.execute(_PIT_SQL_ASOF).df()
    assert len(interval) > 0  # the poison must not trivially empty the result
    # the poison must actually produce NULL prices covering intervals
    assert interval["pit_price"].isna().any()
    a, b = canonical(interval), canonical(asof)
    assert len(a) == len(b)
    if not a.equals(b):
        diff = (a != b).any(axis=1)
        raise AssertionError(
            "PIT oracle forms disagree under NULLs; first differing rows:\n"
            f"interval:\n{a[diff].head(5)}\nasof:\n{b[diff].head(5)}"
        )


def test_registered_oracle_defaults_to_interval_form():
    """The registered oracle must be the algorithm-INDEPENDENT definitional
    form — the whole point of the split (the as-of form shares the
    engine's formulation and would certify a shared conceptual bug
    silently). Only the skew-axis gate run swaps in the as-of form."""
    from importer_spark.queries import ORACLES

    assert ORACLES["point_in_time_price"] == _PIT_SQL_INTERVAL
