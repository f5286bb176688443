"""ast_repr parity: our reference-notation formatter must be
string-identical to the reference's own ``ast_repr`` (reference
ast.py:16-58) on every pattern the corpus enumerates and every example
AST the reference ships — so diagnostics can be diffed across engines.
"""

import sys
from pathlib import Path

import pytest
import yaml

sys.path.insert(0, "/root/reference")

ref_ast = pytest.importorskip("reflinkcep.ast", reason="reference checkout not available")
EXAMPLE_ASTS_PATH = ref_ast.EXAMPLE_ASTS_PATH
ref_ast_repr = ref_ast.ast_repr

from reflinkcep_spark.cep.query import ast_repr  # noqa: E402

from tests.corpus import DIVISIONS, iter_division  # noqa: E402


def test_ast_repr_matches_reference_on_corpus():
    n = 0
    for div in DIVISIONS:
        for _cid, pat in iter_division(div):
            assert ast_repr(pat) == ref_ast_repr(pat)
            n += 1
    assert n > 4000  # the full four-division enumeration


@pytest.mark.parametrize(
    "path", sorted(Path(EXAMPLE_ASTS_PATH).glob("*.yml"), key=str)
)
def test_ast_repr_matches_reference_on_examples(path):
    obj = yaml.safe_load(path.read_text())
    pat = obj["patseq"]
    assert ast_repr(pat) == ref_ast_repr(pat)
