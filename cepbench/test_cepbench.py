"""Tests for the benchmark itself.

    python3 -m pytest cepbench -q

The smoke tests run every workload at a tiny size, in both the
untraced and the traced mode; each run starts and stops its own local
Spark session.
"""

import json
import os
import random

import pytest

import check
import gen
import probes
import run
from reflinkcep_spark import Query, compile_query
from workloads import WORKLOADS

TINY = 0.05


def tiny_replay(name="kernel_long_keys", seed=3):
    w = WORKLOADS[name]
    df = gen.events(w.shape, seed, TINY)
    q = Query.from_yaml(w.query_yaml)
    n_keys = df["user_id"].nunique()
    return df, q, check.replay(df, compile_query(q), q.strategy, q.names, w.within(n_keys))


def test_generator_is_deterministic_per_seed():
    for shape in (gen.LONG_KEYS, gen.FUNNEL, gen.STREAM):
        a, b = gen.events(shape, 7, TINY), gen.events(shape, 7, TINY)
        assert a.equals(b)
        assert not a.equals(gen.events(shape, 8, TINY))
        assert (a["event_id"].diff().dropna() == 1).all()
        assert set(a["event_type"]) <= set(gen.TYPES)


def test_stream_files_keep_each_key_in_event_order(tmp_path):
    df = gen.events(gen.STREAM, 5, TINY)
    paths = gen.write_stream_files(df, str(tmp_path), 6)
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    import pandas as pd

    back = pd.concat([pd.read_parquet(p) for p in paths], ignore_index=True)
    assert back.equals(df)
    for _key, rows in back.groupby("user_id", sort=False):
        assert rows["event_id"].is_monotonic_increasing


def test_digest_ignores_row_order():
    _df, _q, rep = tiny_replay()
    assert rep.matches
    shuffled = list(rep.matches)
    random.Random(0).shuffle(shuffled)
    assert check.digest(shuffled) == check.digest(rep.matches)
    assert check.error_count(rep.matches, shuffled, rep.keys) == (rep.keys, 0)


def test_dropped_row_makes_error_rate_positive():
    _df, _q, rep = tiny_replay()
    got = rep.matches[:-1]
    attempted, failed = check.error_count(rep.matches, got, rep.keys)
    assert attempted == rep.keys and failed == 1
    assert check.digest(got) != check.digest(rep.matches)


def test_replay_agrees_with_duckdb_on_funnel(tmp_path):
    df, _q, rep = tiny_replay("fastpath_funnel")
    path = str(tmp_path / "events.parquet")
    gen.write_parquet(df, path)
    expected = check.duckdb_funnel(path)
    assert expected
    assert check.digest(expected) == check.digest(rep.matches)


def test_parse_metric():
    assert probes.parse_metric("8,732") == {"total": 8732.0}
    got = probes.parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "1.5 KiB (0.5 KiB, 0.5 KiB, 1.0 KiB (stage 3.0: task 2))"
    )
    assert got == {"total": 1536.0, "min": 512.0, "med": 512.0, "max": 1024.0}
    assert probes.parse_metric("1.0 m (2 ms, 3 s, 4 s (stage 1.0: task 1))".join(
        ["total (min, med, max (stageId: taskId))\n", ""]))["total"] == 60.0


@pytest.fixture
def restore_env():
    """``run`` sets the Spark scratch and JVM variables in the
    environment; put them back for the tests that follow."""
    saved = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(saved)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke(restore_env, tmp_path, workload):
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, listed in ((False, "end_to_end"), (True, "per_layer")):
        work = tmp_path / f"trace{int(trace)}"
        work.mkdir()
        result = run.run(workload, seed=1, seconds=0, trace=trace,
                         work=str(work), scale=TINY, setups=2)
        assert result["correct"], result["info"]
        assert result["failed"] == 0 and result["attempted"] > 0
        assert set(result["metrics"]) == {m["name"] for m in spec[listed]}
        assert len(result["info"]["setups_s"]) == 2
        if trace:
            dispatched = result["metrics"]["fastpath.dispatched"]["value"]
            assert dispatched == (1.0 if WORKLOADS[workload].fastpath else 0.0)


def test_new_session_after_run(restore_env, tmp_path):
    """A run stops its JVM; a later session in the same process must
    launch a new one rather than reuse the dead gateway."""
    run.run("kernel_long_keys", seed=1, seconds=0, trace=False,
            work=str(tmp_path), scale=TINY, setups=1)
    spark = run.start_session(str(tmp_path / "after"))
    try:
        assert spark.range(3).count() == 3
    finally:
        run.stop_session(spark)
