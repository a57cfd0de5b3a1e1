"""Differential test of EVERY oracle-backed catalog query against DuckDB —
the in-repo mirror of the driver's t2 correctness gate (at sf0.001 for
speed; the driver runs the same comparison at sf0.01). Every row runs
inside ``state.scope()`` and must leave no persisted RDD behind it."""

from __future__ import annotations

import pytest

from data_algorithms_with_pyspark_spark.operators.state import scope
from data_algorithms_with_pyspark_spark.plans.catalog import all_queries
from tests.conftest import SF_SMOKE, persisted_rdd_ids
from tests.oracle import compare_spark_duckdb

CATALOG = all_queries()
ORACLE_BACKED = sorted(name for name, q in CATALOG.items() if q.oracle)
ROWS_ONLY = sorted(name for name, q in CATALOG.items() if not q.oracle)


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_matches_duckdb_oracle(spark, duck_smoke, name):
    q = CATALOG[name]
    before = persisted_rdd_ids(spark)
    with scope():
        compare_spark_duckdb(q.fn(spark, SF_SMOKE), duck_smoke, q.oracle)
    left = persisted_rdd_ids(spark) - before
    assert not left, f"{name} left persisted RDDs {sorted(left)}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    q = CATALOG[name]
    before = persisted_rdd_ids(spark)
    with scope():
        df = q.fn(spark, SF_SMOKE)
        assert df.count() >= 0
        assert len(df.columns) > 0
    left = persisted_rdd_ids(spark) - before
    assert not left, f"{name} left persisted RDDs {sorted(left)}"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25


# Queries whose result is EMPTY at SF_SMOKE get only a vacuous value check
# above (0 == 0 rows proves nothing about the values — the seasonal-dow
# off-by-one hid exactly there). Re-verify them against their oracles at
# sf0.01, where they produce rows.
_EMPTY_AT_SMOKE = ("events_seasonal_anomalies", "customers_without_orders")


def test_empty_at_smoke_queries_are_vacuous_only_where_expected(
    spark, duck_smoke
):
    """If a NEW query joins this club, add it to the sf0.01 re-check below
    (this assertion is the tripwire). An oracle-backed query's row count
    comes from its DuckDB oracle, which test_matches_duckdb_oracle pins
    equal to Spark's; only rows-only queries run in Spark here."""
    for name, q in all_queries().items():
        if q.oracle:
            n = len(duck_smoke.execute(q.oracle).fetchall())
        else:
            n = q.fn(spark, SF_SMOKE).count()
        if n == 0:
            assert name in _EMPTY_AT_SMOKE, (
                f"{name} is empty at SF_SMOKE: its value oracle is vacuous "
                "— add it to _EMPTY_AT_SMOKE for the sf0.01 re-check"
            )


@pytest.mark.parametrize("name", _EMPTY_AT_SMOKE)
def test_empty_at_smoke_queries_verify_at_sf001(spark, name):
    from tests.conftest import SF_CORRECTNESS, make_duckdb

    q = all_queries()[name]
    if q.oracle is None:
        pytest.skip("rows-only query")
    con = make_duckdb(SF_CORRECTNESS)
    compare_spark_duckdb(q.fn(spark, SF_CORRECTNESS), con, q.oracle)


def test_sample_priority_names_exist():
    """A typo'd name in _SAMPLE_PRIORITY silently drops out of the
    driver's sample window (all_queries skips unknown names) — the
    rotation would burn a slot on nothing. Fail loudly instead."""
    from data_algorithms_with_pyspark_spark.plans.catalog import (
        _SAMPLE_PRIORITY,
        all_queries,
    )

    qs = all_queries()
    missing = [n for n in _SAMPLE_PRIORITY if n not in qs]
    assert not missing, f"_SAMPLE_PRIORITY names not in registry: {missing}"
    assert len(set(_SAMPLE_PRIORITY)) == len(_SAMPLE_PRIORITY), "duplicates"


def test_sample_last_pins_no_oracle_row_out_of_the_window():
    """approx_distinct_users_hll (the one rows-only row) must never
    land in the driver's ~50-query sample prefix again (VERDICT r10
    #6): _SAMPLE_LAST pins it to the very end of catalog order."""
    from data_algorithms_with_pyspark_spark.plans.catalog import (
        _SAMPLE_LAST,
        _SAMPLE_PRIORITY,
        all_queries,
    )

    qs = all_queries()
    names = list(qs)
    missing = [n for n in _SAMPLE_LAST if n not in qs]
    assert not missing, f"_SAMPLE_LAST names not in registry: {missing}"
    for n in _SAMPLE_LAST:
        assert n not in names[:50], f"{n} inside the sample window"
    assert names[-len(_SAMPLE_LAST):] == list(_SAMPLE_LAST)
    # The registered _SAMPLE_PRIORITY names lead in their declared order,
    # and every name in the first 50 has an oracle (zero non-green
    # entries by design).
    lead = [n for n in _SAMPLE_PRIORITY if n in qs]
    assert names[: len(lead)] == lead
    assert all(qs[n].oracle is not None for n in names[:50])
