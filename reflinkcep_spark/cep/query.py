"""Pattern-sequence queries: YAML dialect, validation, fluent builder.

The query surface is the reference's exact YAML/dict AST dialect
(reference ast.py:61-94, node shapes per compile.py:52-585):

    PS   := Pattern | PatternConcat
    node := spat | lpat | lpat-inf | combine | gpat | gpat-times | gpat-inf
          | alt

``alt`` (beyond-reference) is ordered alternation: the run
explores ``left`` then ``right`` (declaration-order edge priority, so
the left alternative's matches emit first); capture names must be
unique across branches — a match through one branch leaves the other
branch's captures absent, exactly like an unmatched optional.

plus a ``context`` carrying the event-type schema (used to enumerate
"other type" skip edges for relaxed contiguity) and the after-match skip
``strategy`` (NoSkip | SkipToNext | SkipPastLastEvent |
SkipToFirst:<name> | SkipToLast:<name>).

Additionally we provide a Flink-style fluent builder (``Pattern``)
producing the same dict AST, so queries can be written in Python:

    q = (Pattern.begin("a", event="e").where("name == 1")
               .followed_by("b", event="e").where("name == 2")
               .one_or_more()
               .query(schema={"e": ["id", "name", "price"]}))
"""

from __future__ import annotations

import copy
from typing import Any, Mapping

import yaml

from reflinkcep_spark.cep.expr import validate

__all__ = [
    "Query",
    "Pattern",
    "QueryError",
    "ast_repr",
    "describe",
    "CONTIGUITIES",
    "STRATEGIES",
    "PARAMETERIZED_STRATEGIES",
    "parse_strategy",
]

CONTIGUITIES = ("strict", "relaxed", "nd-relaxed")
STRATEGIES = ("NoSkip", "SkipToNext", "SkipPastLastEvent")

# Flink's two parameterized after-match strategies (beyond the
# reference's three): spelled "SkipToFirst:<name>" / "SkipToLast:<name>"
# — after a match is emitted, every partial run that started before the
# first (resp. last) event captured under <name> in that match is
# discarded.  Semantics follow the public Flink CEP AfterMatchSkip
# documentation table (e.g. pattern b+ c on b1 b2 b3 c with
# SkipToLast:b keeps b1b2b3c and b3c, dropping b2b3c).
PARAMETERIZED_STRATEGIES = ("SkipToFirst", "SkipToLast")


def parse_strategy(strategy: str) -> tuple[str, str | None]:
    """Split a strategy spelling into (base, target).  Raises
    QueryError on unknown spellings; target validity against the
    pattern's capture names is checked by Query.__init__."""
    if strategy in STRATEGIES:
        return strategy, None
    base, sep, target = strategy.partition(":")
    if sep and base in PARAMETERIZED_STRATEGIES and target:
        return base, target
    raise QueryError(f"unknown after-match strategy {strategy!r}")

LEAF_TYPES = ("spat", "lpat", "lpat-inf")
GROUP_TYPES = ("gpat", "gpat-times", "gpat-inf")
NODE_TYPES = LEAF_TYPES + ("combine", "alt") + GROUP_TYPES


class QueryError(ValueError):
    """Raised for malformed pattern ASTs."""


def _require(node: Mapping, keys: tuple[str, ...], where: str) -> None:
    for k in keys:
        if k not in node:
            raise QueryError(f"{where}: missing key {k!r}")


def _validate_variables(node: Mapping, where: str) -> None:
    for var, spec in node.get("variables", {}).items():
        if not isinstance(var, str) or not var.isidentifier():
            raise QueryError(f"{where}: bad variable name {var!r}")
        _require(spec, ("update", "initial"), f"{where}.variables[{var}]")
        validate(str(spec["update"]))


def _validate_node(node: Mapping, where: str = "patseq") -> None:
    if not isinstance(node, Mapping):
        raise QueryError(f"{where}: pattern node must be a mapping")
    ntype = node.get("type")
    if ntype not in NODE_TYPES:
        raise QueryError(f"{where}: unknown node type {ntype!r}")

    if ntype in LEAF_TYPES:
        _require(node, ("name", "event", "cndt"), where)
        validate(str(node["cndt"]["expr"]))
        _validate_variables(node, where)
        if ntype == "lpat":
            _require(node, ("loop",), where)
            loop = node["loop"]
            _require(loop, ("contiguity", "from", "to"), f"{where}.loop")
            if loop["contiguity"] not in CONTIGUITIES:
                raise QueryError(f"{where}: bad contiguity {loop['contiguity']!r}")
            n, m = int(loop["from"]), int(loop["to"])
            if not (0 <= n <= m) or m < 1:
                raise QueryError(f"{where}: bad loop bounds {{{n},{m}}}")
        elif ntype == "lpat-inf":
            _require(node, ("loop",), where)
            loop = node["loop"]
            _require(loop, ("contiguity", "from"), f"{where}.loop")
            if loop["contiguity"] not in CONTIGUITIES:
                raise QueryError(f"{where}: bad contiguity {loop['contiguity']!r}")
            if int(loop["from"]) < 0:
                raise QueryError(f"{where}: bad loop lower bound")
            if "until" in node:
                validate(str(node["until"]["expr"]))
    elif ntype == "alt":
        _require(node, ("left", "right"), where)
        _validate_node(node["left"], where + ".left")
        _validate_node(node["right"], where + ".right")
        overlap = set(capture_names(node["left"])) & set(
            capture_names(node["right"])
        )
        if overlap:
            raise QueryError(
                f"{where}: alternation branches share capture names "
                f"{sorted(overlap)} — captures are per-variable, so a "
                "match could not record which branch it took; rename"
            )
    elif ntype == "combine":
        _require(node, ("contiguity", "left", "right"), where)
        if node["contiguity"] not in CONTIGUITIES:
            raise QueryError(f"{where}: bad contiguity {node['contiguity']!r}")
        _validate_node(node["left"], where + ".left")
        _validate_node(node["right"], where + ".right")
        # Non-strict combine with a NESTED right child is accepted as a
        # beyond-reference extension (the reference reads
        # the right child's leaf fields directly, compile.py:415-419,
        # and raises on anything else).  The compiler derives the gap's
        # skip rule from the right fragment's start-ε-closure take
        # edges — see compiler.py:_build_combine and the Flink-derived
        # golden tests in tests/test_nested_combine.py.
    else:  # group patterns
        _require(node, ("child",), where)
        _validate_node(node["child"], where + ".child")
        if ntype == "gpat-times":
            _require(node, ("loop",), where)
            _require(node["loop"], ("from", "to"), f"{where}.loop")
            n, m = int(node["loop"]["from"]), int(node["loop"]["to"])
            # from=0 is accepted but behaves as from=1: the reference's
            # construction (compile.py:515-516, range(n-1, m)) never adds
            # a zero-iteration ε-edge, only a duplicate last-copy edge
            # that the ε-once guard neutralizes.  Verified by probe and
            # pinned by tests/test_differential.py (gtimes-0-2).
            if not (0 <= n <= m) or m < 1:
                raise QueryError(f"{where}: bad group bounds {{{n},{m}}}")
        elif ntype == "gpat-inf":
            _require(node, ("loop",), where)
            _require(node["loop"], ("from",), f"{where}.loop")
            if "until" in node:
                validate(str(node["until"]["expr"]))


def capture_names(node: Mapping) -> list[str]:
    """Pattern names in left-to-right declaration order (duplicates dropped)."""
    ntype = node["type"]
    if ntype in LEAF_TYPES:
        return [node["name"]]
    if ntype in ("combine", "alt"):
        names = capture_names(node["left"])
        for n in capture_names(node["right"]):
            if n not in names:
                names.append(n)
        return names
    return capture_names(node["child"])


class Query:
    """A validated pattern-sequence query: ``patseq`` AST + context."""

    def __init__(self, patseq: Mapping[str, Any], context: Mapping[str, Any]):
        _validate_node(patseq)
        strategy = context.get("strategy", "NoSkip")
        base, target = parse_strategy(strategy)
        if target is not None and target not in capture_names(patseq):
            raise QueryError(
                f"strategy {strategy!r} targets unknown pattern name "
                f"{target!r} (have {capture_names(patseq)})"
            )
        if "schema" not in context:
            raise QueryError("context.schema is required (event-type map)")
        self.patseq = patseq
        self.context = dict(context)
        self.name = context.get("name", "<query>")

    @property
    def strategy(self) -> str:
        return self.context.get("strategy", "NoSkip")

    @property
    def schema(self) -> Mapping[str, Any]:
        return self.context["schema"]

    @property
    def names(self) -> list[str]:
        return capture_names(self.patseq)

    @classmethod
    def from_dict(cls, obj: Mapping[str, Any]) -> "Query":
        return cls(obj["patseq"], obj["context"])

    @classmethod
    def from_yaml(cls, text: str, name: str = "<yaml>") -> "Query":
        obj = yaml.safe_load(text)
        q = cls.from_dict(obj)
        q.name = name
        return q

    @classmethod
    def from_file(cls, path) -> "Query":
        with open(path) as f:
            q = cls.from_yaml(f.read(), name=str(path))
        return q

    def to_dict(self) -> dict:
        return {"type": "query", "patseq": self.patseq, "context": self.context}

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Query({self.strategy}, {describe(self.patseq)})"


_CONTIG_SYMBOL = {"strict": ".", "relaxed": "~", "nd-relaxed": "#"}

# The reference's diagnostic notation (reference ast.py:13): strict /
# relaxed / nd-relaxed render as ⋅ / ∘ / ⊙.
_REF_CONTIG_SYMBOL = {"strict": "⋅", "relaxed": "∘", "nd-relaxed": "⊙"}


def ast_repr(node: Mapping) -> str:
    """Render a pattern AST in the REFERENCE's exact diagnostic notation
    (reference ast.py:16-58): ``name:event:[expr]`` leaves, loop bounds
    as ``_⋅{n,m}`` with the contiguity symbol, ``U(expr)`` until
    suffixes, parenthesized groups.  String-identical to the reference's
    own formatter (pinned differentially by tests/test_ast_repr.py over
    the full corpus enumeration), so logs and plan dumps can be diffed
    against reference tooling; ``describe`` stays the ASCII variant."""
    t = node["type"]
    if t == "spat":
        return f"{node['name']}:{node['event']}:[{node['cndt']['expr']}]"
    if t == "lpat":
        lp = node["loop"]
        return (
            f"{node['name']}:{node['event']}:[{node['cndt']['expr']}]"
            f"_{_REF_CONTIG_SYMBOL[lp['contiguity']]}{{{lp['from']},{lp['to']}}}"
        )
    if t == "lpat-inf":
        lp = node["loop"]
        u = f"U({node['until']['expr']})" if "until" in node else ""
        return (
            f"{node['name']}:{node['event']}:[{node['cndt']['expr']}]"
            f"_{_REF_CONTIG_SYMBOL[lp['contiguity']]}{{{lp['from']},inf}}{u}"
        )
    if t == "combine":
        return (
            ast_repr(node["left"])
            + _REF_CONTIG_SYMBOL[node["contiguity"]]
            + ast_repr(node["right"])
        )
    if t == "alt":
        # beyond-reference node: no reference notation exists, so use
        # the regex-standard one (never appears in the pinned
        # reference-corpus differential)
        return f"({ast_repr(node['left'])}|{ast_repr(node['right'])})"
    if t == "gpat":
        return f"({ast_repr(node['child'])})"
    if t == "gpat-times":
        lp = node["loop"]
        return f"({ast_repr(node['child'])}){{{lp['from']},{lp['to']}}}"
    if t == "gpat-inf":
        u = f"U({node['until']['expr']})" if "until" in node else ""
        return f"({ast_repr(node['child'])}){{{node['loop']['from']},inf}}{u}"
    raise QueryError(f"unknown node type {t!r}")


def describe(node: Mapping) -> str:
    """Compact single-line rendering of a pattern AST (diagnostics)."""
    t = node["type"]
    if t == "spat":
        return f"{node['name']}:{node['event']}[{node['cndt']['expr']}]"
    if t == "lpat":
        lp = node["loop"]
        return (
            f"{node['name']}:{node['event']}[{node['cndt']['expr']}]"
            f"{_CONTIG_SYMBOL[lp['contiguity']]}{{{lp['from']},{lp['to']}}}"
        )
    if t == "lpat-inf":
        lp = node["loop"]
        u = f"U[{node['until']['expr']}]" if "until" in node else ""
        return (
            f"{node['name']}:{node['event']}[{node['cndt']['expr']}]"
            f"{_CONTIG_SYMBOL[lp['contiguity']]}{{{lp['from']},inf}}{u}"
        )
    if t == "combine":
        return (
            describe(node["left"])
            + _CONTIG_SYMBOL[node["contiguity"]]
            + describe(node["right"])
        )
    if t == "alt":
        return f"({describe(node['left'])}|{describe(node['right'])})"
    if t == "gpat":
        return f"({describe(node['child'])})"
    if t == "gpat-times":
        lp = node["loop"]
        return f"({describe(node['child'])}){{{lp['from']},{lp['to']}}}"
    if t == "gpat-inf":
        u = f"U[{node['until']['expr']}]" if "until" in node else ""
        return f"({describe(node['child'])}){{{node['loop']['from']},inf}}{u}"
    raise QueryError(f"unknown node type {t!r}")


class Pattern:
    """Fluent Flink-style builder producing the dict AST dialect.

    Each ``Pattern`` wraps a partial pattern-sequence.  Sequencing
    methods (``next_``/``followed_by``/``followed_by_any``) append a new
    leaf; quantifier methods (``times``/``one_or_more``/…) and modifiers
    (``where``/``until``/``define``/``consecutive``/…) rewrite the most
    recently appended leaf.  ``group``/``times``… on a grouped pattern
    build group nodes.
    """

    def __init__(self, ast: dict, tail_path: tuple[str, ...] = ()):
        self._ast = ast
        self._tail_path = tail_path  # key path from root to the active leaf

    # -- constructors -------------------------------------------------
    @classmethod
    def begin(cls, name: str, event: str, where: str = "True") -> "Pattern":
        return cls(_leaf(name, event, where))

    @classmethod
    def group(cls, inner: "Pattern") -> "Pattern":
        return cls({"type": "gpat", "child": copy.deepcopy(inner._ast)})

    # -- internals ----------------------------------------------------
    def _tail(self) -> dict:
        node = self._ast
        for key in self._tail_path:
            node = node[key]
        return node

    def _clone(self) -> "Pattern":
        return Pattern(copy.deepcopy(self._ast), self._tail_path)

    def _mutate_tail(self, fn) -> "Pattern":
        p = self._clone()
        fn(p._tail())
        return p

    # -- conditions ---------------------------------------------------
    def where(self, expr: str) -> "Pattern":
        return self._mutate_tail(
            lambda n: n.__setitem__("cndt", {"expr": validate(expr)})
        )

    def until(self, expr: str) -> "Pattern":
        return self._mutate_tail(
            lambda n: n.__setitem__("until", {"expr": validate(expr)})
        )

    def define(self, var: str, initial, update: str) -> "Pattern":
        """Declare an iterative-condition data variable (reference
        ``variables`` block, compile.py:22-27)."""

        def fn(n):
            n.setdefault("variables", {})[var] = {
                "initial": initial,
                "update": validate(update),
            }

        return self._mutate_tail(fn)

    # -- quantifiers (rewrite the active leaf / group) ----------------
    def times(self, n: int, m: int | None = None) -> "Pattern":
        m = n if m is None else m

        def fn(node):
            if node["type"] == "gpat":
                node["type"] = "gpat-times"
                node["loop"] = {"from": n, "to": m}
            else:
                node["type"] = "lpat"
                node["loop"] = {
                    "contiguity": node.get("loop", {}).get("contiguity", "relaxed"),
                    "from": n,
                    "to": m,
                }

        return self._mutate_tail(fn)

    def one_or_more(self) -> "Pattern":
        return self.times_or_more(1)

    def times_or_more(self, n: int) -> "Pattern":
        def fn(node):
            if node["type"] == "gpat":
                node["type"] = "gpat-inf"
                node["loop"] = {"from": n}
            else:
                node["type"] = "lpat-inf"
                node["loop"] = {
                    "contiguity": node.get("loop", {}).get("contiguity", "relaxed"),
                    "from": n,
                }

        return self._mutate_tail(fn)

    def optional(self) -> "Pattern":
        """Set the loop lower bound to 0 (reference: ``from: 0`` ⇒
        optional, compile.py:217-220)."""

        def fn(node):
            if node["type"] in ("lpat", "lpat-inf", "gpat-inf"):
                node["loop"]["from"] = 0
            elif node["type"] == "spat":
                node["type"] = "lpat"
                node["loop"] = {"contiguity": "relaxed", "from": 0, "to": 1}
            else:
                raise QueryError(f"cannot make {node['type']} optional")

        return self._mutate_tail(fn)

    # -- loop contiguity ----------------------------------------------
    def consecutive(self) -> "Pattern":
        return self._set_loop_contiguity("strict")

    def allow_combinations(self) -> "Pattern":
        return self._set_loop_contiguity("nd-relaxed")

    def _set_loop_contiguity(self, mode: str) -> "Pattern":
        def fn(node):
            if "loop" not in node:
                raise QueryError("contiguity applies to a quantified pattern")
            node["loop"]["contiguity"] = mode

        return self._mutate_tail(fn)

    # -- sequencing ---------------------------------------------------
    def next_(self, name: str, event: str, where: str = "True") -> "Pattern":
        return self._concat("strict", _leaf(name, event, where))

    def followed_by(self, name: str, event: str, where: str = "True") -> "Pattern":
        return self._concat("relaxed", _leaf(name, event, where))

    def followed_by_any(self, name: str, event: str, where: str = "True") -> "Pattern":
        return self._concat("nd-relaxed", _leaf(name, event, where))

    def then(self, contiguity: str, other: "Pattern") -> "Pattern":
        """Concatenate a whole sub-pattern (e.g. a group) after this one."""
        return self._concat(contiguity, copy.deepcopy(other._ast))

    def _concat(self, contiguity: str, right: dict) -> "Pattern":
        ast = {
            "type": "combine",
            "contiguity": contiguity,
            "left": copy.deepcopy(self._ast),
            "right": right,
        }
        return Pattern(ast, ("right",))

    # -- finish -------------------------------------------------------
    def ast(self) -> dict:
        return copy.deepcopy(self._ast)

    def query(
        self,
        schema: Mapping[str, Any],
        strategy: str = "NoSkip",
        name: str = "<pattern>",
    ) -> Query:
        context = {"schema": dict(schema), "strategy": strategy, "name": name}
        return Query(self.ast(), context)


def _leaf(name: str, event: str, where: str) -> dict:
    return {
        "type": "spat",
        "name": name,
        "event": event,
        "cndt": {"expr": validate(where)},
    }
