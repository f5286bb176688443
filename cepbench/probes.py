"""Measurements taken from outside the engine: host facts, Spark's SQL
status store, the Python UDF profiler, streaming progress, and the RSS
of Spark's Python workers read from ``/proc``."""

from __future__ import annotations

import glob
import os
import pstats
import re
import statistics
import threading

# --- host ------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_record(spark, load1: float) -> dict:
    """The host and Spark set-up of a run; ``load1`` is the 1-minute
    load average when the run started."""
    import pandas
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf().getAll()
    keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.maxRecordsPerBatch")
    return {
        "nproc": nproc(),
        "load1": load1,
        "busy_host": load1 > nproc(),
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "conf": {k: v for k, v in sorted(conf) if k in keep},
    }


# --- SQL status store ------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = r"([0-9][0-9,]*(?:\.[0-9]+)?)"
_QTY = re.compile(_NUM + r"\s*([A-Za-z]+)?")


def _qty(text: str) -> float:
    m = _QTY.match(text.strip())
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def parse_metric(text: str) -> dict:
    """Spark's formatted SQL metric → ``{"total", "min", "med", "max"}``
    in base units (bytes, seconds, counts).  Plain sums carry only a
    total."""
    lines = text.strip().split("\n")
    if len(lines) == 1:
        return {"total": _qty(lines[0])}
    body = lines[1]
    total, rest = body.split("(", 1)
    parts = [p.strip() for p in rest.split(",")]
    out = {"total": _qty(total)}
    if len(parts) >= 3:
        out.update(min=_qty(parts[0]), med=_qty(parts[1]), max=_qty(parts[2]))
    return out


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return max(execs.apply(i).executionId() for i in range(execs.size()))


def plan_metrics(spark, execution_id: int) -> list[tuple[str, dict]]:
    """``[(node name, {metric name: parsed value})]`` of one finished
    SQL execution, from Spark's status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    values = store.executionMetrics(execution_id)
    nodes = store.planGraph(execution_id).allNodes()
    out = []
    for i in range(nodes.size()):
        node = nodes.apply(i)
        ms = node.metrics()
        got = {}
        for j in range(ms.size()):
            m = ms.apply(j)
            v = values.get(m.accumulatorId())
            if v.isDefined():
                got[m.name()] = parse_metric(v.get())
        out.append((node.name(), got))
    return out


def _sum(nodes, prefix: str, metric: str, part: str = "total") -> float:
    return sum(
        m[metric].get(part, 0.0)
        for name, m in nodes
        if name.startswith(prefix) and metric in m
    )


def kernel_layer(nodes) -> dict:
    """Per-layer numbers of one query execution's plan."""
    python = ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
              "MapInPandas", "FlatMapCoGroupsInPandas")
    has_python = any(name.startswith(python) for name, _ in nodes)
    reads = [m["local bytes read"] for name, m in nodes
             if name.startswith("Exchange") and "local bytes read" in m]
    return {
        "kernel.python_s": _sum(nodes, "FlatMapGroupsInPandas", "time to run Python workers"),
        "kernel.python_start_s": _sum(nodes, "FlatMapGroupsInPandas", "time to start Python workers")
        + _sum(nodes, "FlatMapGroupsInPandas", "time to initialize Python workers"),
        "kernel.bytes_to_python": _sum(nodes, "FlatMapGroupsInPandas", "data sent to Python workers"),
        "kernel.bytes_from_python": _sum(nodes, "FlatMapGroupsInPandas", "data returned from Python workers"),
        "shuffle.records": _sum(nodes, "Exchange", "shuffle records written"),
        "shuffle.bytes": _sum(nodes, "Exchange", "shuffle bytes written"),
        "shuffle.partition_skew": max(
            (r.get("max", 0.0) / r["med"] for r in reads if r.get("med")), default=0.0
        ),
        "fastpath.dispatched": 0.0 if has_python else 1.0,
        "fastpath.sort_ms": 1e3 * _sum(nodes, "Sort", "sort time"),
        "fastpath.spill_bytes": _sum(nodes, "Sort", "spill size"),
    }


def last_plan(spark) -> dict:
    """``kernel_layer`` of the most recent SQL execution."""
    return kernel_layer(plan_metrics(spark, last_execution_id(spark)))


# --- UDF profiler ----------------------------------------------------


def profile_layer(spark, directory: str) -> dict:
    """Cumulative seconds in the kernel's per-key function and in the
    NFA's ``feed``, summed over every profiled UDF."""
    spark.profile.dump(directory, type="perf")
    run_group_s = feed_s = groups = 0.0
    for path in glob.glob(os.path.join(directory, "*.pstats")):
        stats = pstats.Stats(path).stats
        for (filename, _line, func), (_cc, ncalls, _tt, cum, _callers) in stats.items():
            # the profiler records file base names only
            where = (os.path.basename(filename), func)
            if where == ("cep.py", "run_group"):
                run_group_s += cum
                groups += ncalls
            elif where == ("runtime.py", "feed"):
                feed_s += cum
    return {"kernel.run_group_s": run_group_s, "runtime.feed_s": feed_s,
            "kernel.groups": groups}


# --- streaming progress ----------------------------------------------


def stream_layer(progress: list) -> dict:
    """Medians over the measured micro-batches of their progress reports."""
    def med(values):
        return float(statistics.median(values)) if values else 0.0

    ops = [p.stateOperators[0] for p in progress if p.stateOperators]
    return {
        "stream.add_batch_ms": med([p.durationMs.get("addBatch", 0) for p in progress]),
        "stream.planning_ms": med([p.durationMs.get("queryPlanning", 0) for p in progress]),
        "stream.state_update_ms": med([o.allUpdatesTimeMs for o in ops]),
        "stream.state_commit_ms": med([o.commitTimeMs for o in ops]),
        "stream.state_bytes": med(
            [o.customMetrics.get("stateOnCurrentVersionSizeBytes", 0) for o in ops]
        ),
        "stream.state_rows": med([o.numRowsTotal for o in ops]),
        "stream.keys_updated": med([o.numRowsUpdated for o in ops]),
        "stream.microbatch_p50_ms": med([p.durationMs.get("triggerExecution", 0) for p in progress]),
        "stream.events_per_s": (
            1e3 * sum(p.numInputRows for p in progress)
            / sum(p.durationMs.get("triggerExecution", 0) for p in progress)
            if progress else 0.0
        ),
    }


# --- Python worker memory --------------------------------------------


def _children(pid: int) -> list[int]:
    """Child pids of every thread of ``pid`` (``children`` is per thread)."""
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False


class WorkerRss:
    """Samples the summed RSS of the Python processes under the Spark
    JVM every ``period`` seconds; ``peak`` is the largest sum seen."""

    def __init__(self, jvm_pid: int, period: float = 0.05):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        total = 0
        stack = _children(self.jvm_pid)
        while stack:
            pid = stack.pop()
            stack.extend(_children(pid))
            if _is_python_worker(pid):
                total += _rss_bytes(pid)
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
