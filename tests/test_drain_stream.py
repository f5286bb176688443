"""``tests/conftest.py:drain_stream``, the wait every stream test uses.

It must return once the query has processed its input, whether or not
the query terminates on its own, and it must leave no query running,
whatever happens.  A stand-in query object drives it without Spark.
"""

import types

import pytest

from tests.conftest import drain_stream


class FakeQuery:
    """A streaming query that reports ``progress`` one entry per poll
    (a number of input rows per batch) and then, if ``terminates``,
    stops by itself."""

    def __init__(self, progress, terminates=False, error=None):
        self._progress = list(progress)
        self._terminates = terminates
        self._error = error
        self.recentProgress = []
        self.stopped = False
        self.polls = 0

    @property
    def isActive(self):
        self.polls += 1
        if self._progress:
            rows = self._progress.pop(0)
            self.recentProgress.append(types.SimpleNamespace(numInputRows=rows))
        elif self._terminates:
            return False
        return not self.stopped

    def exception(self):
        return self._error

    def stop(self):
        self.stopped = True


def test_returns_when_the_query_terminates_and_stops_it():
    q = FakeQuery([4, 4], terminates=True)
    drain_stream(q)
    assert q.stopped
    assert [p.numInputRows for p in q.recentProgress] == [4, 4]


def test_returns_at_the_first_no_data_batch_of_a_query_that_never_ends():
    """Under a processing-time state timeout the query stays active and
    keeps running no-data batches; the first of them ends the wait."""
    q = FakeQuery([4, 4, 4, 0, 0, 0])
    drain_stream(q)
    assert q.stopped
    assert [p.numInputRows for p in q.recentProgress] == [4, 4, 4, 0]


def test_a_restart_rerunning_an_unfinished_no_data_batch_keeps_waiting():
    """A query stopped during a no-data batch re-runs it first when it
    restarts on its checkpoint; the new input comes in the batch after."""
    q = FakeQuery([0, 4, 0, 0])
    drain_stream(q)
    assert q.stopped
    assert [p.numInputRows for p in q.recentProgress] == [0, 4, 0]


def test_reraises_the_query_error_after_stopping_it():
    q = FakeQuery([4], terminates=True, error=RuntimeError("batch failed"))
    with pytest.raises(RuntimeError, match="batch failed"):
        drain_stream(q)
    assert q.stopped


def test_gives_up_after_the_timeout_and_still_stops_the_query():
    q = FakeQuery([4] * 1000)
    with pytest.raises(AssertionError, match="did not drain"):
        drain_stream(q, timeout_s=0.3)
    assert q.stopped
    assert 1 < q.polls < 1000
