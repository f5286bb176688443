"""Value coverage for RETIRED queries.

Retirement (queries/__init__.py:RETIRED) drops a query from
``queries()`` / ``oracle_sql()``, not the check: every retired query's
function and oracle SQL stay in their module, and this test replays the
full oracle compare (row count + sorted columns + dtype-kind + exact values)
against DuckDB at sf0.001 each pytest run.  A retired operator that
regresses therefore still fails CI.
"""

import os

import pytest

from scripts import check_oracles
from scripts.check_oracles import compare
from tests.conftest import SF_DIR

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _retired_cases():
    from reflinkcep_spark.queries import RETIRED, pipeline, relational, temporal

    merged_q, merged_sql = {}, {}
    for mod in (pipeline, relational, temporal):
        merged_q.update(mod.QUERIES)
        merged_sql.update(mod.ORACLES)
    for name in RETIRED:
        # retirement means "not in the driver contract", never "gone
        # from the module" — both halves must still exist to be tested
        assert name in merged_q, f"retired query {name} lost its function"
        assert name in merged_sql, f"retired query {name} lost its oracle"
        yield name, merged_q[name], merged_sql[name]


@pytest.mark.parametrize("name,fn,sql", list(_retired_cases()))
def test_retired_query_still_matches_oracle(spark, name, fn, sql):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, t + ".parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS FROM '{path}'")
    if callable(sql):
        sql = sql()
    got = check_oracles.normalize(fn(spark, SF_DIR).toPandas())
    want = check_oracles.normalize(con.execute(sql).fetchdf())
    assert len(got) > 0
    assert compare(name, got, want) == []


def test_retired_names_are_out_of_the_driver_contract():
    from reflinkcep_spark.queries import RETIRED, all_oracles, all_queries

    assert not set(RETIRED) & set(all_queries())
    assert not set(RETIRED) & set(all_oracles())
