import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from reflinkcep_spark.session import get_spark

    spark = get_spark(app_name="reflinkcep-spark-tests", shuffle_partitions=8)
    jvm = spark.sparkContext._gateway.proc
    yield spark
    # A test may stop the JVM itself (cepbench's ``stop_session``); a
    # session whose JVM is gone has nothing left to stop.
    if jvm.poll() is None:
        spark.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def drain_stream(q, timeout_s=120):
    """Wait until streaming query ``q`` has processed all its input,
    then stop it.

    A query that terminates on its own (``availableNow`` without state
    timeouts) ends the wait.  Under ``idle_timeout_ms`` Spark keeps
    starting no-data micro-batches once the input is used up, so such a
    query never terminates and ``processAllAvailable`` never returns;
    a no-data batch marks the input as processed, because a batch takes
    new data whenever the source has any.  The query's first batch is
    the exception: a query restarted on a checkpoint first re-runs the
    batch its last run left unfinished, which may be a no-data batch
    planned before the new input arrived."""
    deadline = time.monotonic() + timeout_s
    try:
        while q.isActive and not any(p.numInputRows == 0 for p in q.recentProgress[1:]):
            assert time.monotonic() < deadline, "stream did not drain its input"
            time.sleep(0.1)
        err = q.exception()
        if err is not None:
            raise err
    finally:
        q.stop()
