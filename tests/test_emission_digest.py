"""``MatchEngine``'s emission, pinned by digest.  Without Spark.

The golden cases pin the emission order of a few dozen patterns; this
pins it for the whole reference corpus and for seeded random
multi-type patterns.  Each replay contributes ``(case, strategy,
within, start, end, sorted captures)`` for every match, in emission
order, to one SHA-256 digest per half.  A change to the interpreter
that moves, adds or drops a single match anywhere changes the digest.
"""

from __future__ import annotations

import hashlib
import random

from reflinkcep_spark.cep.compiler import compile_pattern
from reflinkcep_spark.cep.runtime import MatchEngine

from tests.corpus import DIVISIONS, SCHEMA, STRATEGIES, STREAMS, iter_division
from tests.test_inert_types import _random_pattern

WITHINS = [None, 3]

CORPUS_DIGEST = "3cb74b209472452090636785642f1c2c2cec9c42f7e15a94249b0e06999be09c"
RANDOM_DIGEST = "7b76fee67363325d993ccc52d80ce32b63bae7bab9da1609d9fca7f23dfbc1d3"


def _emit(digest, case: str, aut, strategy: str, within, stream) -> None:
    engine = MatchEngine(aut, strategy, within)
    for t, attrs in stream:
        for m in engine.feed(t, attrs):
            caps = sorted((n, tuple(ps)) for n, ps in m.captures.items())
            digest.update(repr((case, strategy, within, m.start, m.end, caps)).encode())


def test_corpus_emission_is_pinned():
    digest = hashlib.sha256()
    for div in DIVISIONS:
        for case_id, ast in iter_division(div):
            aut = compile_pattern(ast, SCHEMA)
            for stream_id, stream in STREAMS.items():
                for strategy in STRATEGIES:
                    for within in WITHINS:
                        _emit(digest, f"{case_id}/{stream_id}", aut, strategy, within, stream)
    assert digest.hexdigest() == CORPUS_DIGEST


def test_random_pattern_emission_is_pinned():
    rng = random.Random(14)
    schema = {t: [] for t in "abcx"}
    strategies = [*STRATEGIES, "SkipToFirst:p0", "SkipToLast:p0"]
    digest = hashlib.sha256()
    for i in range(400):
        aut = compile_pattern(_random_pattern(rng, 3, []), schema)
        stream = [  # u is undeclared
            (rng.choice("abcxu"), {"id": j + 1, "v": rng.randint(0, 6)})
            for j in range(14)
        ]
        for strategy in strategies:
            for within in WITHINS:
                _emit(digest, f"random-{i}", aut, strategy, within, stream)
    assert digest.hexdigest() == RANDOM_DIGEST
