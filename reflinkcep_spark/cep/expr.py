"""Condition / update expression sub-language.

The query dialect uses Python-syntax boolean/arithmetic expressions over
event attributes and data variables, e.g. ``name == 1 and price < 4`` or
the running-sum update ``X + price`` (reference: DST.py:84-89 evaluates
these with a builtins-stripped ``eval``; genjava.py:371-379 rewrites
``and/or/not`` into Java).  We do the same two things, Spark-first:

* ``compile_predicate`` / ``compile_update`` — validated, sandboxed,
  pre-compiled Python evaluators for the NFA kernels (the slow path that
  runs inside ``mapInPandas`` / ``applyInPandasWithState``).
* ``to_sql`` — translate the same expression into an ANSI-SQL boolean
  expression so qualifying patterns can run entirely inside Catalyst
  (``F.expr``) and inside the DuckDB oracle.

Only a whitelisted AST subset is accepted: names, int/float/str/bool
literals, comparisons (incl. chained), ``and/or/not``, unary ``-``,
``+ - * / // %`` arithmetic, and the conditional expression
``a if cond else b`` (→ SQL ``CASE WHEN``; used by the
MATCH_RECOGNIZE DEFINE-navigation registers, whose FIRST(V.col)
update is inherently conditional).  Anything else (calls, attributes,
subscripts, lambdas, comprehensions…) is rejected at compile time, which
is both the sandbox and the guarantee that ``to_sql`` is total on
accepted input.
"""

from __future__ import annotations

import ast as _pyast
from typing import Callable, Mapping

__all__ = [
    "ExprError",
    "compile_predicate",
    "compile_update",
    "to_sql",
    "validate",
]


class ExprError(ValueError):
    """Raised for expressions outside the supported sub-language."""


_ALLOWED_NODES = (
    _pyast.Expression,
    _pyast.BoolOp,
    _pyast.And,
    _pyast.Or,
    _pyast.UnaryOp,
    _pyast.Not,
    _pyast.USub,
    _pyast.UAdd,
    _pyast.BinOp,
    _pyast.Add,
    _pyast.Sub,
    _pyast.Mult,
    _pyast.Div,
    _pyast.FloorDiv,
    _pyast.Mod,
    _pyast.Compare,
    _pyast.Eq,
    _pyast.NotEq,
    _pyast.Lt,
    _pyast.LtE,
    _pyast.Gt,
    _pyast.GtE,
    _pyast.Name,
    _pyast.Load,
    _pyast.Constant,
    _pyast.IfExp,
)

_ALLOWED_CONST_TYPES = (int, float, str, bool, type(None))


def _parse(expr: str) -> _pyast.Expression:
    expr = str(expr)
    try:
        tree = _pyast.parse(expr, mode="eval")
    except SyntaxError as exc:  # pragma: no cover - message path
        raise ExprError(f"invalid expression {expr!r}: {exc}") from exc
    for node in _pyast.walk(tree):
        if not isinstance(node, _ALLOWED_NODES):
            raise ExprError(
                f"unsupported construct {type(node).__name__} in {expr!r}"
            )
        if isinstance(node, _pyast.Constant) and not isinstance(
            node.value, _ALLOWED_CONST_TYPES
        ):
            raise ExprError(f"unsupported literal {node.value!r} in {expr!r}")
    return tree


def validate(expr: str) -> str:
    """Validate ``expr`` against the sub-language; return it unchanged."""
    _parse(expr)
    return expr


_EMPTY: dict = {}
_SANDBOX = {"__builtins__": {}}

Predicate = Callable[[Mapping, Mapping], object]


def compile_predicate(expr: str) -> Predicate:
    """Compile to ``fn(attrs, env) -> truthy``.

    Attribute values shadow data-variable values on name collision, the
    same resolution order the reference uses (DST.py:88-89 merges
    ``{**env, **attrs}``).

    The scope is that merged dict, not a ``ChainMap``: every name load
    inside ``eval`` is a LOAD_NAME against the locals mapping, which is
    a C-level dict lookup for a plain dict but a Python-level
    ``ChainMap.__getitem__`` call per name.  On the iterative-condition
    NFA shapes (predicate + update per candidate event) the merge is
    measurably faster (×0.66 kernel wall on the spending-burst shape,
    identical matches); resolution order and NameError-on-missing are
    unchanged.
    """
    code = compile(_parse(expr), "<cep-predicate>", "eval")

    def run(attrs: Mapping, env: Mapping) -> object:
        scope = {**env, **attrs} if env else attrs
        return eval(code, _SANDBOX, scope)  # noqa: S307 - whitelisted AST

    run.expr = expr  # type: ignore[attr-defined]
    return run


def compile_update(alpha: Mapping[str, str]):
    """Compile a data-variable update map ``{var: expr}``.

    Returns ``fn(attrs, env) -> new_env``; all update expressions read the
    *pre-update* environment (simultaneous assignment, reference
    DST.py:139-144).  An empty map compiles to ``None`` so callers can
    skip the env copy entirely.
    """
    if not alpha:
        return None
    compiled = [
        (var, compile(_parse(expr), "<cep-update>", "eval"))
        for var, expr in alpha.items()
    ]

    def run(attrs: Mapping, env: Mapping) -> dict:
        scope = {**env, **attrs} if env else attrs
        new_env = dict(env)
        for var, code in compiled:
            new_env[var] = eval(code, _SANDBOX, scope)  # noqa: S307
        return new_env

    return run


# --- SQL translation -------------------------------------------------------

_CMP_SQL = {
    _pyast.Eq: "=",
    _pyast.NotEq: "<>",
    _pyast.Lt: "<",
    _pyast.LtE: "<=",
    _pyast.Gt: ">",
    _pyast.GtE: ">=",
}

_BIN_SQL = {
    _pyast.Add: "+",
    _pyast.Sub: "-",
    _pyast.Mult: "*",
    _pyast.Div: "/",
}


def to_sql(expr: str) -> str:
    """Translate an accepted expression into an ANSI-SQL boolean expression.

    Mirrors the reference's own and/or/not → Java translation trick
    (genjava.py:371-379) but targets SQL, so the identical predicate
    text runs in Spark ``F.expr`` and in the DuckDB oracle.
    """

    def emit(node: _pyast.AST) -> str:
        if isinstance(node, _pyast.Expression):
            return emit(node.body)
        if isinstance(node, _pyast.BoolOp):
            op = " AND " if isinstance(node.op, _pyast.And) else " OR "
            return "(" + op.join(emit(v) for v in node.values) + ")"
        if isinstance(node, _pyast.UnaryOp):
            if isinstance(node.op, _pyast.Not):
                return f"(NOT {emit(node.operand)})"
            sign = "-" if isinstance(node.op, _pyast.USub) else ""
            return f"({sign}{emit(node.operand)})"
        if isinstance(node, _pyast.BinOp):
            if isinstance(node.op, _pyast.FloorDiv):
                return f"CAST(FLOOR({emit(node.left)} / {emit(node.right)}) AS BIGINT)"
            if isinstance(node.op, _pyast.Mod):
                # Python % is floored (sign of divisor); SQL % is
                # truncated (sign of dividend).  They agree only when
                # both operands are non-negative, so emit the floored
                # form — the same predicate text must evaluate
                # identically via Python eval in the NFA kernel and via
                # SQL in the Catalyst fast paths / DuckDB oracles.
                a, b = emit(node.left), emit(node.right)
                return f"((({a} % {b}) + {b}) % {b})"
            op = _BIN_SQL[type(node.op)]
            return f"({emit(node.left)} {op} {emit(node.right)})"
        if isinstance(node, _pyast.IfExp):
            return (
                f"(CASE WHEN {emit(node.test)} THEN {emit(node.body)} "
                f"ELSE {emit(node.orelse)} END)"
            )
        if isinstance(node, _pyast.Compare):
            parts = []
            left = node.left
            for op, right in zip(node.ops, node.comparators):
                parts.append(
                    f"({emit(left)} {_CMP_SQL[type(op)]} {emit(right)})"
                )
                left = right
            return "(" + " AND ".join(parts) + ")" if len(parts) > 1 else parts[0]
        if isinstance(node, _pyast.Name):
            return node.id
        if isinstance(node, _pyast.Constant):
            v = node.value
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return "TRUE" if v else "FALSE"
            if isinstance(v, str):
                escaped = v.replace("'", "''")
                return f"'{escaped}'"
            return repr(v)
        raise ExprError(f"cannot translate {type(node).__name__}")  # pragma: no cover

    return emit(_parse(expr))
