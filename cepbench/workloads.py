"""The benchmark's workloads.

Each one fixes its event-log shape (``gen``), its pattern and its
``within`` bound.  None of this is a command-line knob: a workload name
plus a seed determines the input completely.
"""

from __future__ import annotations

from dataclasses import dataclass

from reflinkcep_spark.queries.cep_queries import FUNNEL_YAML

import gen

# signup, then a relaxed loop of >= 2 purchases whose running sum stays
# within 300.  The iterative variable keeps it off the fast path, and
# every signup in the ``within`` window holds a live run, so the NFA
# does real work on each event.
SIGNUP_SPEND_YAML = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left: {type: spat, name: reg, event: signup, cndt: {expr: "True"}}
  right:
    type: lpat-inf
    name: buys
    event: purchase
    cndt: {expr: S + value <= 300}
    variables:
      S: {update: S + value, initial: 0}
    loop: {contiguity: relaxed, from: 2}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
"""


@dataclass(frozen=True)
class Workload:
    name: str
    shape: gen.Shape
    query_yaml: str
    # ``within`` in per-key events; ``event_id`` is a global clock over
    # interleaved keys, so the bound in event_id units is this times the
    # key count.
    window_key_events: int | None = None
    fastpath: bool = False  # the plan is expected to have no Python node
    # Traced runs also replay the pattern over this shape as a stream
    # (``match_pattern_stream``, one file per micro-batch) for the
    # streaming layer's metrics.
    stream_shape: gen.Shape | None = None

    def within(self, n_keys: int) -> int | None:
        if self.window_key_events is None:
            return None
        return self.window_key_events * n_keys


# The traced stream replay: one file per micro-batch.  The query's first
# batch starts its state store; the other STREAM_FILES - 1 are measured.
# Each micro-batch costs ~1 s however few keys it updates, so the file
# count, not the event count, sets the replay's length.
STREAM_FILES = 9

WORKLOADS = {
    w.name: w
    for w in (
        Workload("kernel_long_keys", gen.LONG_KEYS, SIGNUP_SPEND_YAML, 40,
                 stream_shape=gen.STREAM),
        Workload("fastpath_funnel", gen.FUNNEL, FUNNEL_YAML, fastpath=True),
    )
}
