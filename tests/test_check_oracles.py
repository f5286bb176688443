"""The local oracle replay must be a faithful proxy for the driver's
TYPE-sensitive value hash: int64 13 vs float64 13.0 is a driver
failure, so the checker has to flag it even though the values match.
(Every red driver row across rounds 1-4 was exactly this class —
oracle-side HUGEINT in r1-r3, Spark-side percentile_disc DOUBLE in r4 —
and the pre-r5 checker coerced it away.)"""

import importlib.util
import os

import pandas as pd

_spec = importlib.util.spec_from_file_location(
    "check_oracles",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "check_oracles.py",
    ),
)
check_oracles = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracles)
compare = check_oracles.compare


def test_int_vs_float_same_values_fails():
    got = pd.DataFrame({"p10": pd.array([13.0, 7.0], dtype="float64")})
    want = pd.DataFrame({"p10": pd.array([13, 7], dtype="int64")})
    problems = compare("x", got, want)
    assert problems and "dtype kind" in problems[0]


def test_matching_dtypes_and_values_pass():
    got = pd.DataFrame({"a": [1, 2], "b": [1.5, float("nan")]})
    want = pd.DataFrame({"a": [2, 1], "b": [float("nan"), 1.5]})
    assert compare("x", got, want) == []


def test_value_mismatch_still_detected():
    got = pd.DataFrame({"a": [1, 2]})
    want = pd.DataFrame({"a": [1, 3]})
    problems = compare("x", got, want)
    assert problems and "mismatches" in problems[0]


def test_all_null_object_column_is_wildcard():
    # DuckDB returns all-NULL columns as object; Spark may type them.
    got = pd.DataFrame({"a": pd.array([None, None], dtype="float64")})
    want = pd.DataFrame({"a": pd.Series([None, None], dtype="object")})
    assert compare("x", got, want) == []


def test_int32_vs_int64_is_same_kind():
    # Width differences survive the driver's hash (values equal after
    # arrow normalization); only KIND changes flip the hash.
    got = pd.DataFrame({"a": pd.array([1, 2], dtype="int32")})
    want = pd.DataFrame({"a": pd.array([1, 2], dtype="int64")})
    assert compare("x", got, want) == []


def test_prestaged_round14_queries_match_oracles(spark):
    """Round-14 seed queue.  Same contract as the round-12/13 pins —
    those queues graduated into the registry and are now covered by the
    full check_oracles replay; pin every queued query oracle-green at
    sf0.001 so round-14 registration is a dict edit, not a debugging
    session."""
    import duckdb

    from reflinkcep_spark.queries.pipeline import (
        SQL_DOC_LINK_PAGERANK,
        SQL_DOC_SNAPSHOT_DIFF,
        SQL_MULTIMODAL_PPM_STATS,
        SQL_MULTIMODAL_WAV_STATS,
        _sql_sim_jl_project,
        doc_link_pagerank,
        doc_snapshot_diff,
        multimodal_ppm_stats,
        multimodal_wav_stats,
        sim_jl_project,
    )
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS FROM '{os.path.join(SF_DIR, t + '.parquet')}'"
        )
    for fn, sql in (
        (doc_snapshot_diff, SQL_DOC_SNAPSHOT_DIFF),
        (doc_link_pagerank, SQL_DOC_LINK_PAGERANK),
        (sim_jl_project, _sql_sim_jl_project()),
        (multimodal_wav_stats, SQL_MULTIMODAL_WAV_STATS),
        (multimodal_ppm_stats, SQL_MULTIMODAL_PPM_STATS),
    ):
        got = check_oracles.normalize(fn(spark, SF_DIR).toPandas())
        want = check_oracles.normalize(con.execute(sql).fetchdf())
        assert len(got) > 0
        assert compare(fn.__name__, got, want) == []


def test_prestaged_round15_queries_match_oracles(spark):
    """Round-14/15 queue additions built in round 12: Count-Min
    estimates, SCD2 history build, per-domain caps, Gopher format
    rules.  Same contract as the earlier queue pins: oracle-green at
    sf0.001 every pytest run, so registration is a dict edit."""
    import duckdb

    from reflinkcep_spark.queries.pipeline import (
        SQL_DEDUP_INCREMENTAL,
        SQL_DOC_DOMAIN_CAPS,
        SQL_MULTIMODAL_AVI_STATS,
        SQL_TEXT_GOPHER_RULES,
        SQL_TEXT_BOILERPLATE,
        _sql_doc_cms_estimates,
        dedup_incremental,
        doc_cms_estimates,
        doc_domain_caps,
        multimodal_avi_stats,
        text_boilerplate,
        text_gopher_rules,
    )
    from reflinkcep_spark.queries.cep_queries import (
        SQL_CEP_SQL_ERROR_RUNS,
        SQL_CEP_SQL_FUNNEL,
        SQL_FUNNEL_WITHIN_TIME,
        cep_funnel_within_time,
        cep_sql_error_runs,
        cep_sql_funnel,
    )
    from reflinkcep_spark.queries.temporal import (
        SQL_EVENTS_ZORDER_STATS,
        SQL_SCD2_USER_STATUS,
        q_events_zorder_stats,
        q_scd2_user_status,
    )
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE VIEW {t} AS FROM '{os.path.join(SF_DIR, t + '.parquet')}'"
        )
    for fn, sql in (
        (doc_cms_estimates, _sql_doc_cms_estimates()),
        (q_scd2_user_status, SQL_SCD2_USER_STATUS),
        (doc_domain_caps, SQL_DOC_DOMAIN_CAPS),
        (text_gopher_rules, SQL_TEXT_GOPHER_RULES),
        (q_events_zorder_stats, SQL_EVENTS_ZORDER_STATS),
        (multimodal_avi_stats, SQL_MULTIMODAL_AVI_STATS),
        (dedup_incremental, SQL_DEDUP_INCREMENTAL),
        (text_boilerplate, SQL_TEXT_BOILERPLATE),
        (cep_funnel_within_time, SQL_FUNNEL_WITHIN_TIME),
        (cep_sql_error_runs, SQL_CEP_SQL_ERROR_RUNS),
        (cep_sql_funnel, SQL_CEP_SQL_FUNNEL),
    ):
        got = check_oracles.normalize(fn(spark, SF_DIR).toPandas())
        want = check_oracles.normalize(con.execute(sql).fetchdf())
        assert len(got) > 0
        assert compare(fn.__name__, got, want) == []


def test_prestaged_round16_queries_match_oracles(spark):
    """Round-16 queue addition built in round 14: the MATCH_RECOGNIZE
    DEFINE-navigation query.  Same contract as the earlier queue pins —
    oracle-green at sf0.001 every pytest run (3-SF verified at build
    time: 343 / 3,309 / 33,053 rows), so registration is a dict edit."""
    import duckdb

    from reflinkcep_spark.queries.cep_queries import (
        SQL_CEP_SQL_PREV_ASCENT,
        cep_sql_prev_ascent,
    )
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS FROM "
        f"'{os.path.join(SF_DIR, 'events.parquet')}'"
    )
    got = check_oracles.normalize(
        cep_sql_prev_ascent(spark, SF_DIR).toPandas()
    )
    want = check_oracles.normalize(
        con.execute(SQL_CEP_SQL_PREV_ASCENT).fetchdf()
    )
    assert len(got) > 0
    assert compare("cep_sql_prev_ascent", got, want) == []


def test_prestaged_round17_queries_match_oracles(spark):
    """Round-17 queue seed built in the round-14 continuation: the
    alternation query exercising the whole new MATCH_RECOGNIZE surface
    (PATTERN (H | E{3}), CLASSIFIER(), MATCH_NUMBER(), SUBSET union
    measures).  Same contract as the earlier queue pins — oracle-green
    at sf0.001 every pytest run (3-SF verified at build time:
    176 / 1,673 / 17,014 rows), so registration is a dict edit."""
    import duckdb

    from reflinkcep_spark.queries.cep_queries import (
        SQL_CEP_SQL_ALTERNATION,
        cep_sql_alternation,
    )
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS FROM "
        f"'{os.path.join(SF_DIR, 'events.parquet')}'"
    )
    got = check_oracles.normalize(
        cep_sql_alternation(spark, SF_DIR).toPandas()
    )
    want = check_oracles.normalize(
        con.execute(SQL_CEP_SQL_ALTERNATION).fetchdf()
    )
    assert len(got) > 0
    assert compare("cep_sql_alternation", got, want) == []
