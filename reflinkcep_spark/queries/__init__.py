"""Query registry: every operator exposed through the driver contract.

Each sub-module defines ``QUERIES`` (name → fn(spark, sf_dir) → DF) and
``ORACLES`` (name → equivalent ANSI SQL for DuckDB).  Names without an
oracle are non-SQL-expressible operators checked rows-only.
"""

from reflinkcep_spark.queries import cep_queries, pipeline, relational, temporal

_MODULES = (pipeline, temporal, cep_queries, relational)

# Retired queries: left out of queries() / oracle_sql() because a
# registered sibling exercises the same plan shape.  Their functions
# and oracle SQL stay in the modules, and tests/test_retired_queries.py
# still checks every one against DuckDB.
RETIRED = (
    "q_events_tumbling",
    "q_asof_next_error",
    "q_late_lines_by_status",
    "q_part_supplier_counts",
    "doc_hash_sample",
    "text_token_histogram",
    "doc_top_terms",
    "doc_mixture_sample",
    "q_orders_by_month",
    "q_distinct_counts",
    "doc_length_outliers",
    "q_scalar_functions",
)


def _drop_retired(merged):
    for name in RETIRED:
        merged.pop(name, None)
    return merged


def all_queries():
    merged = {}
    for mod in _MODULES:
        merged.update(mod.QUERIES)
    return _drop_retired(merged)


# Lazily-built oracle SQL, cached by query name: an ORACLES value may
# be a zero-arg callable (e.g. pipeline's IVF oracle, which reads the
# oracle-scale parquet and fits a quantizer) that is only invoked — and
# its cost only paid — when the driver actually asks for oracle_sql().
_ORACLE_CACHE: dict[str, str] = {}


def all_oracles():
    merged = {}
    for mod in _MODULES:
        for name, sql in mod.ORACLES.items():
            if callable(sql):
                if name not in _ORACLE_CACHE:
                    _ORACLE_CACHE[name] = sql()
                sql = _ORACLE_CACHE[name]
            merged[name] = sql
    return _drop_retired(merged)
