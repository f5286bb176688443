#!/usr/bin/env python3
"""Seeded CEP benchmark.

    python3 cepbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's event log from the seed, runs the pattern
query on ``local[nproc]``, checks the matches against a reference, and
prints one JSON line last: ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics listed in
``BENCHMARK.json``; ``--trace 1`` reports its per-layer metrics.
Workloads, metrics and the layer map are described in
``cepbench/README.md``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
from dataclasses import dataclass  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from typing import Callable  # noqa: E402

LOAD0 = os.getloadavg()[0]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from reflinkcep_spark import Query, compile_query  # noqa: E402
from reflinkcep_spark.operators import match_pattern  # noqa: E402
from reflinkcep_spark.session import get_spark  # noqa: E402
from reflinkcep_spark.sources import read_events, read_events_stream  # noqa: E402
from reflinkcep_spark.streaming import match_pattern_stream  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import probes  # noqa: E402
from workloads import STREAM_FILES, WORKLOADS, Workload  # noqa: E402

# A run sets up SETUPS times and reports the median as setup_s.  The
# first set-up also starts Spark and its Python workers; each set-up
# writes its own copy of the input.  Pass and set-up times keep falling
# for several seconds while the JVM compiles the plan's hot code, so
# untimed warm passes follow the first set-up; the median of the timed
# passes after the last set-up is reported.
SETUPS = 5
WARM_SECONDS = 5.0
MIN_PASSES = 5
TRACED_PASSES = 3
EVENT_SCHEMA = "user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE"


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def start_session(work: str):
    """A Spark session sized to this host, with every scratch file
    under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(probes.nproc())
    spark = get_spark(
        app_name="cepbench",
        shuffle_partitions=probes.nproc(),
        extra_conf={
            "spark.driver.memory": "2g",
            # The whole heap from the start: a growing heap slowed the
            # passes of a run for its first minute.
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, wait for its JVM (and with it the Python workers) to
    exit, and drop the dead gateway so that a later session in this
    process launches a new JVM."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_passes(df, seconds: float, minimum: int) -> list[float]:
    times: list[float] = []
    start = time.perf_counter()
    while len(times) < minimum or time.perf_counter() - start < seconds:
        t = time.perf_counter()
        noop(df)
        times.append(time.perf_counter() - t)
    return times


def median_time(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


@dataclass
class Job:
    """A prepared query: its input, compiled pattern and plan."""

    w: Workload
    df: object  # the event log, a pandas frame
    path: str  # the batch input file or the stream input directory
    query: Query
    automaton: object
    within: int | None
    plan: Callable  # builds the match DataFrame

    @property
    def n_keys(self) -> int:
        return int(self.df["user_id"].nunique())


def prepare(spark, w: Workload, seed: int, scale: float, work: str) -> Job:
    """One set-up: generate and write the input, compile, plan, and run
    the query's first pass."""
    df = gen.events(w.shape, seed, scale)
    path = os.path.join(work, "events.parquet")
    gen.write_parquet(df, path)
    query = Query.from_yaml(w.query_yaml)
    automaton = compile_query(query)
    within = w.within(int(df["user_id"].nunique()))

    def plan():
        return match_pattern(
            read_events(spark, path), query,
            order_by="event_id", partition_by="user_id", within=within,
        )

    noop(plan())
    return Job(w, df, path, query, automaton, within, plan)


def stream_job(spark, w: Workload, seed: int, scale: float, work: str) -> Job:
    """The traced stream replay: ``w``'s pattern over ``w.stream_shape``,
    written as STREAM_FILES parquet files read one per micro-batch."""
    df = gen.events(w.stream_shape, seed, scale)
    path = os.path.join(work, "stream_in")
    gen.write_stream_files(df, path, STREAM_FILES)
    query = Query.from_yaml(w.query_yaml)
    within = w.within(int(df["user_id"].nunique()))

    def plan():
        src = read_events_stream(spark, path, schema=EVENT_SCHEMA, max_files_per_trigger=1)
        return match_pattern_stream(
            src, query, order_by="event_id", partition_by="user_id", within=within,
        )

    return Job(w, df, path, query, compile_query(query), within, plan)


def common_layers(spark, job: Job, rep) -> dict:
    """Layer numbers every workload reports: source scan, compiler,
    and the single-core NFA replay."""
    return {
        "sources.scan_ms": 1e3 * median_time(lambda: noop(read_events(spark, job.path)), 3),
        "compiler.compile_ms": 1e3 * median_time(lambda: compile_query(job.query), 5),
        "compiler.states": job.automaton.n_states(),
        "runtime.events_per_s_1core": rep.events_per_s,
        "runtime.peak_live_runs": rep.peak_live_runs,
        "runtime.mean_live_runs": rep.mean_live_runs,
        "runtime.matches": len(rep.matches),
        "kernel.plan_ms": 1e3 * median_time(job.plan, 5),
    }


def replay(job: Job):
    return check.replay(job.df, job.automaton, job.query.strategy, job.query.names, job.within)


def measure_batch(spark, job: Job, seconds: float, trace: bool):
    w, df, out = job.w, job.df, job.plan()
    times = timed_passes(out, seconds, MIN_PASSES)
    e2e = {"events_per_s": len(df) / statistics.median(times)}

    # Output check, outside the timed region.  The last timed pass's
    # plan shows whether the query dispatched to the fast path.
    dispatched = probes.last_plan(spark)["fastpath.dispatched"] == 1.0
    t = time.perf_counter()
    got = check.spark_matches(out, job.query.names)
    rep = None
    if not w.fastpath or trace:  # the fast path's reference is DuckDB
        rep = replay(job)
    expected = check.duckdb_funnel(job.path) if w.fastpath else rep.matches
    attempted, failed = check.error_count(expected, got, job.n_keys)
    correct = failed == 0 and dispatched == w.fastpath
    info = {"digest_expected": check.digest(expected), "digest_got": check.digest(got),
            "fastpath_dispatched": dispatched, "pass_s": times,
            "check_s": time.perf_counter() - t}
    if not trace:
        return correct, attempted, failed, e2e, info

    # The traced passes run with the UDF profiler on and the worker RSS
    # sampled; trace.slowdown is their cost against the timed passes.
    layers = common_layers(spark, job, rep)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    spark.profile.clear()
    try:
        traced, per_pass = [], []
        with probes.WorkerRss(spark.sparkContext._gateway.proc.pid) as rss:
            for _ in range(TRACED_PASSES):
                t = time.perf_counter()
                noop(out)
                traced.append(time.perf_counter() - t)
                per_pass.append(probes.last_plan(spark))
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    layers["kernel.peak_worker_rss_mb"] = rss.peak / 2**20
    prof = probes.profile_layer(spark, os.path.join(os.path.dirname(job.path), "profile"))
    for k in per_pass[0]:
        layers[k] = statistics.median(p[k] for p in per_pass)
    for k, v in prof.items():
        layers[k] = v / TRACED_PASSES
    layers["kernel.overhead_s"] = layers["kernel.run_group_s"] - layers["runtime.feed_s"]
    layers.update(probes.stream_layer([]))  # zeros unless a stream replay follows
    traced_eps = len(df) / statistics.median(traced)
    layers["trace.events_per_s"] = traced_eps
    layers["trace.slowdown"] = e2e["events_per_s"] / traced_eps
    return correct, attempted, failed, layers, info


def measure_stream(spark, job: Job):
    """Replays the stream job's input to the end with a new checkpoint,
    checks its matches, and returns ``(correct, attempted, failed,
    stream layer metrics, info)``."""
    sq = (
        job.plan().writeStream.format("memory").queryName("cepbench_matches")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(os.path.dirname(job.path), "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if not sq.awaitTermination(150):
        sq.stop()
        raise RuntimeError("stream did not drain its input within 150 s")
    if sq.exception() is not None:
        raise RuntimeError(f"stream failed: {sq.exception()}")
    progress = sorted(
        (p for p in sq.recentProgress if p.numInputRows > 0), key=lambda p: p.batchId
    )
    if len(progress) != STREAM_FILES:
        raise RuntimeError(f"expected {STREAM_FILES} micro-batches, saw {len(progress)}")
    steady = progress[1:]  # batch 0 starts the query's state store
    layers = probes.stream_layer(steady)

    got = check.spark_matches(spark.table("cepbench_matches"), job.query.names)
    expected = replay(job).matches
    attempted, failed = check.error_count(expected, got, job.n_keys)
    info = {"digest_expected": check.digest(expected), "digest_got": check.digest(got),
            "trigger_ms": [p.durationMs["triggerExecution"] for p in steady]}
    return failed == 0, attempted, failed, layers, info


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        scale: float = 1.0, setups: int = SETUPS, started: float | None = None) -> dict:
    """One benchmark run: ``setups`` set-ups, then the measurement on
    the last one.  Starts and stops its own Spark session.  The first
    set-up's time counts from ``started`` (default: now).  Returns the
    result object; its ``info`` carries the digests and host record."""
    w = WORKLOADS[workload]
    t = time.perf_counter() if started is None else started
    spark = start_session(work)
    setup_s = []
    try:
        for i in range(setups):
            job = prepare(spark, w, seed, scale, os.path.join(work, f"setup{i}"))
            setup_s.append(time.perf_counter() - t)
            if i == 0:
                timed_passes(job.plan(), WARM_SECONDS, 1)
            t = time.perf_counter()
        host = probes.host_record(spark, LOAD0)
        correct, attempted, failed, values, info = measure_batch(spark, job, seconds, trace)
        if trace and w.stream_shape is not None:
            side = stream_job(spark, w, seed, scale, os.path.join(work, "stream"))
            ok, a, f, layers, info["stream"] = measure_stream(spark, side)
            values.update(layers)
            correct, attempted, failed = correct and ok, attempted + a, failed + f
    finally:
        stop_session(spark)
    values["setup_s"] = statistics.median(setup_s)
    listed = spec()["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in listed}
    info.update(host=host, setups_s=setup_s, events=len(job.df), keys=job.n_keys,
                error_rate=failed / attempted)
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": metrics, "info": info}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if LOAD0 > probes.nproc():
        print(f"warning: 1-minute load {LOAD0:.2f} exceeds nproc {probes.nproc()} "
              "at start", file=sys.stderr)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work,
                     started=T0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info = result.pop("info")
    print("# " + json.dumps({"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, **info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
