"""SQL:2016 row-pattern recognition: a ``MATCH_RECOGNIZE`` front end.

The SQL-first entry point to the CEP engine: parse the standard
``MATCH_RECOGNIZE`` clause (the subset Flink SQL / Oracle support most
heavily) and translate it onto the existing pattern AST + Spark kernel
— a thin compiler, zero new runtime.  The reference has no SQL surface
at all (patterns enter via YAML only), so this is strictly
beyond-reference; the translation targets are the same audited
primitives every other CEP query uses (``Query`` AST →
``operators.match_pattern`` batch kernel, ONE exchange on the
partition key).

Supported subset
----------------
::

    MATCH_RECOGNIZE (
      PARTITION BY <col>
      ORDER BY <col>
      MEASURES <expr> AS <name> [, ...]
      [ONE ROW PER MATCH]
      [AFTER MATCH SKIP PAST LAST ROW
        | AFTER MATCH SKIP TO NEXT ROW
        | AFTER MATCH SKIP TO {FIRST|LAST} <var>]
      PATTERN ( [^] <seq> [| <seq>]... [$] ) [WITHIN INTERVAL '<n>' <unit>]
        where <seq> := { <var>[<quant>] | {- <var>[<quant>] ... -} }...
        (anchors cannot combine with '|')
      [SUBSET <name> = ( <var> [, <var>]... ) [, ...]]
      DEFINE <var> AS <condition> [, ...]
    )

* ``PATTERN`` — concatenation of variables with optional quantifiers
  ``* + ? {n} {n,} {n,m}``, each optionally reluctant (trailing ``?``).
  SQL pattern matching is over CONTIGUOUS rows (every row of the
  matched segment is consumed by some variable — use an undefined
  filler variable like ``G*`` for gaps), so concatenation translates
  to STRICT combine and quantifiers to STRICT loops.  Exclusions
  ``{- V ... -}`` (SQL:2016) mark variables whose rows are
  omitted from ALL ROWS PER MATCH output while still matching and
  feeding every measure — FINAL by construction and RUNNING because
  the running prefix is computed before the filter (Oracle's
  documented semantics); no effect under ONE ROW PER MATCH, per the
  standard.  Exclusions cannot nest, and excluding every variable of
  a branch is rejected.  Top-level ordered alternation ``A B | C``
  (SQL:2016): '|'-separated branches of concatenations,
  alternatives preferred in WRITTEN order — the selection key's
  per-variable lens tuple implements this exactly under greedy
  preference, because a left-branch candidate's lens dominates every
  right-branch candidate's lexicographically.  Variable names must be
  unique across branches (captures are per-variable); measures over a
  non-taken branch see empty captures (COUNT 0, FIRST/LAST/SUM NULL);
  reluctant quantifiers cannot combine with alternation (lexicographic
  MIN would invert the branch preference — the kernel's plan refuses
  it), which also excludes alternation from the streaming surface (it
  needs reluctant).  Partition anchors: a leading ``^`` pins
  matches to the key's FIRST row, a trailing ``$`` to its LAST —
  enforced kernel-side by filtering candidates before the per-start
  selection fold, so e.g. ``PATTERN (A+ $)`` keeps only runs that
  reach the partition end.  Anchors are batch-only (an unbounded
  stream has no last row), edges-only, and cannot combine with
  alternation (SQL would anchor individual branches).  Grouped
  alternation inside a branch and ``PERMUTE`` are not supported
  (clear errors).
* Quantifier preference: SQL default is GREEDY (maximal rows); a
  trailing ``?`` makes a quantifier reluctant.  The engine emits every
  nondeterministic assignment (NoSkip) and the kernel's SQL selection
  layer keeps, per eligible start row, the SQL:2016-preferred match:
  candidates compare LEXICOGRAPHICALLY on their per-variable capture
  lengths in pattern order — maximized for greedy, minimized for
  reluctant — which for this front end's flat concatenation patterns
  is exactly the standard's leftmost-quantifier-first preferment.
  Mixing greedy and reluctant quantifiers in one pattern raises (the
  per-start preference direction must be uniform).
* ``DEFINE`` — boolean conditions over the CURRENT row's columns,
  written SQL-style (``B.value > 50 AND B.event_type = 'error'``);
  a plain ``var.`` qualifier must be the variable being defined.
  Undefined variables match any row (SQL semantics).  Conditions are
  translated into the engine's expression sub-language and validated
  by its sandbox (:mod:`reflinkcep_spark.cep.expr`).

  **Navigation**: ``PREV(col [, n])`` / ``NEXT(col [, n])``
  are SQL:2016 PHYSICAL navigation — they read the row n before/after
  the current one in PARTITION order (including rows outside the
  match, e.g. before the match start), exactly Flink SQL's semantics —
  implemented as ``lag``/``lead`` window columns computed before the
  kernel on the same key partitioning and sort (no extra shuffle).
  Partition order is the kernel's per-key rule (below, "Match
  order"): rows tied on ``ORDER BY`` are ordered by the other columns,
  so the row PREV/NEXT read does not depend on the input's layout.
  ``FIRST(V.col [, n])`` / ``LAST(V.col [, n])`` are LOGICAL
  navigation over the rows mapped to ``V`` in the current match
  attempt, implemented as per-run accumulator registers on V's leaf
  (the engine's iterative-condition ``variables`` mechanism;
  reference lpat-n-m-ic.yml).  Inside V's own DEFINE the current row
  counts as mapped (SQL RUNNING semantics): ``LAST(V.col)`` is the
  current row, ``LAST(V.col, 1)`` the previous row V took.  An
  out-of-range offset or an unmapped variable navigates to NULL, and
  the NULL rule below makes the predicate not TRUE — matching SQL.
  ``LAST`` offsets are supported up to a depth-2 register chain
  (deeper raises); navigation inside MEASURES is not supported.

  NULL handling: a row with NULL (or NaN) in ANY column the
  variable's condition references does NOT match that variable — the
  translator prepends an in-language null guard per referenced
  column, mirroring SQL's rule that a predicate over NULL is never
  TRUE (and preventing the Python-side ``None < x`` TypeError the raw
  2-valued evaluation would raise).  The one divergence from full
  three-valued logic: a condition that would be TRUE *regardless* of
  the NULL operand (e.g. ``x = 5 OR TRUE``) matches in SQL but not
  here, because the guard rejects the row before the condition runs.
  Undefined (always-TRUE) variables have no referenced columns and
  match NULL rows, exactly as in SQL.
* ``MEASURES`` — ``FIRST(V.col)``, ``LAST(V.col)``, ``COUNT(V.*)``
  (or bare ``COUNT(V)``), ``SUM/MIN/MAX(V.col)`` (NULL over an empty
  optional capture, SQL aggregate semantics; SUM widens integrals to
  BIGINT, keeps DECIMAL exact at precision 38 / same scale, and
  floats to DOUBLE), ``V.col`` (≡ ``LAST(V.col)``
  under ONE ROW PER MATCH final semantics), and the SQL:2016 nullary
  built-ins ``MATCH_NUMBER()`` (1-based match number within the
  partition ≡ ``match_seq + 1``) and ``CLASSIFIER()`` (the matched
  variable: per-row under ALL ROWS RUNNING, the last row's variable
  under FINAL / ONE ROW PER MATCH), each ``AS``-aliased.
* ``SUBSET <name> = (<var>, ...)`` (SQL:2016) — union
  variables usable in MEASURES: the union's captures are the member
  captures concatenated in PATTERN order, which is match order (below).
  Especially useful with alternation (``COUNT(U.*)`` across
  branches).  Union names cannot collide with pattern variables, be
  AFTER-MATCH-SKIP targets, or appear in DEFINE (members only).
  Projected Spark-side from the kernel's capture arrays
  (``get`` / ``size`` / ``aggregate`` — codegen, no Python).
* ``ONE ROW PER MATCH`` (the default) and ``ALL ROWS PER MATCH`` —
  the latter emits one output row per MATCHED INPUT ROW: the
  partition column, ``match_seq``, the implicit ``classifier`` column
  (which pattern variable consumed the row — SQL's ``CLASSIFIER()``),
  every event column, then the measures.

  **Measure semantics (SQL:2016)**: under ONE ROW PER MATCH
  every measure is FINAL (``RUNNING`` is accepted — the two coincide
  when the one output row is the completed match).  Under ALL ROWS
  PER MATCH the DEFAULT is ``RUNNING`` — each output row's aggregate
  covers the rows mapped AT OR BEFORE it (``RUNNING COUNT(V.*)`` is
  0 before V's first row; ``RUNNING LAST(V.col)`` is NULL there) —
  and ``FINAL agg(...)`` asks for the completed-match value.  Both
  modes project from the same kernel output: all-rows mode labels
  each variable's capture array, concatenates, and explodes; RUNNING
  measures aggregate the labeled prefix per element (in-row
  slice/filter/aggregate algebra, quadratic in match length — bounded
  by the pattern/``within``, not the partition) — codegen array
  algebra, no second kernel pass.

  **Match order.** Every measure aggregates captured rows in MATCH
  order — the order the kernel fed them: the per-key order rule
  (:func:`reflinkcep_spark.cep.keyed.order_cols`), ``ORDER BY``
  ascending with NULL values last, rows tied on it ordered by every
  other atomic input column in input order.  Under this front end's
  patterns (strict contiguity, flat unique variables, one alternation
  branch taken per match) the variables' captures concatenated in
  PATTERN order already ARE the match's rows in that order, so no
  measure sorts:
  ``FIRST``/``LAST`` over a variable or a SUBSET are the first/last
  element of that concatenation, and columns that cannot be ordered
  (e.g. ``map``) work in every measure and in ALL ROWS output.
* The four ``AFTER MATCH SKIP`` modes above (default ``PAST LAST
  ROW``).  ``SKIP TO FIRST/LAST v`` raises at runtime if ``v``
  captured nothing or resolves to the match's own start row
  (SQL:2016's infinite-loop rule).
* ``WITHIN INTERVAL '<n>' SECOND|MINUTE|HOUR|DAY`` after PATTERN
  — Flink SQL's time-bounded MATCH_RECOGNIZE: the match's
  first-to-last EVENT TIME span is bounded, measured on the timestamp
  column the caller names (``match_recognize(df, spec,
  time_col='ts')``), threaded through the kernel's time-based
  ``within``/``within_col`` path (which also prunes expired runs —
  on the streaming surface this bounds per-key state by the key's
  in-window event rate).  Event time must be non-decreasing in ORDER
  BY order per key — the kernel's runtime monotonicity guard
  enforces it.  Mutually exclusive with explicit within kwargs.

Batch and stream share one lowering (``_lower``): translate, stamp for
WITHIN, decide the kernel's columns once (every non-key column), build
the PREV/NEXT window on batch, run the operator, project.  Every
selection and stream rule the operator's ``KeyedPlan`` checks is
refused there, as :class:`MatchRecognizeError`; only PREV/NEXT and
anchors on a stream are refused here.

Scale shape: identical to every kernel CEP query — ONE exchange on the
partition key, Arrow-batched ``mapInPandas`` over each sorted
partition; the measures projection is plain column algebra on the
kernel's output.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING, Sequence

from reflinkcep_spark.cep import expr as expr_mod
from reflinkcep_spark.cep.query import Query

if TYPE_CHECKING:  # pragma: no cover - typing only
    from pyspark.sql import DataFrame

__all__ = [
    "match_recognize",
    "match_recognize_stream",
    "MatchRecognizeError",
    "translate",
]


class MatchRecognizeError(ValueError):
    """Raised for MATCH_RECOGNIZE specs outside the supported subset."""


# --- tokenizer --------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    \s*(
        '(?:[^']|'')*'          # SQL string literal ('' escape)
      | \d+\.\d+ | \.\d+ | \d+  # numbers
      | [A-Za-z_][A-Za-z_0-9]*  # identifiers / keywords
      | <> | != | <= | >= | \{- | -\}
      | [(),.{}*+?|^$<>=-]
      | /
    )
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[str]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise MatchRecognizeError(
                f"cannot tokenize MATCH_RECOGNIZE spec at: {text[pos:pos+30]!r}"
            )
        out.append(m.group(1))
        pos = m.end()
    return out


_CLAUSE_KEYWORDS = (
    "PARTITION",
    "ORDER",
    "MEASURES",
    "ONE",
    "ALL",
    "AFTER",
    "PATTERN",
    "SUBSET",
    "DEFINE",
)


def _clause_shape_ok(up: str, nxt: str | None, nxt2: str | None) -> bool:
    """A depth-0 clause keyword only OPENS a clause when the following
    token(s) match the clause's fixed shape — otherwise an identifier
    that happens to be named ALL/ORDER/PATTERN/… (a measure alias, a
    DEFINE variable) would hijack clause splitting and surface as a
    misleading 'duplicate clause' error."""
    if up in ("PARTITION", "ORDER"):
        return nxt == "BY"
    if up == "AFTER":
        return nxt == "MATCH"
    if up == "ONE":
        return nxt == "ROW"
    if up == "ALL":
        return nxt == "ROWS"
    if up == "PATTERN":
        return nxt == "("
    if up == "SUBSET":
        return nxt2 == "="  # SUBSET <name> = ( … )
    if up == "DEFINE":
        return nxt2 == "AS"  # DEFINE <var> AS …
    return True  # MEASURES: no fixed shape (aliases named MEASURES are
    #             rejected in _parse_measures instead)


def _split_clauses(tokens: list[str]) -> dict[str, list[str]]:
    """Split the token stream into clause-keyword → body tokens (the
    keyword token(s) included), tracking paren depth so identifiers
    inside expressions never open a clause."""
    clauses: dict[str, list[str]] = {}
    current: str | None = None
    depth = 0
    for i, tok in enumerate(tokens):
        up = tok.upper()
        if (
            depth == 0
            and up in _CLAUSE_KEYWORDS
            and _clause_shape_ok(
                up,
                tokens[i + 1].upper() if i + 1 < len(tokens) else None,
                tokens[i + 2].upper() if i + 2 < len(tokens) else None,
            )
        ):
            if up in clauses:
                raise MatchRecognizeError(f"duplicate {up} clause")
            clauses[up] = []
            current = up
            continue
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
            if depth < 0:
                raise MatchRecognizeError("unbalanced parentheses")
        if current is None:
            raise MatchRecognizeError(
                f"unexpected token {tok!r} before any clause keyword"
            )
        clauses[current].append(tok)
    if depth != 0:
        raise MatchRecognizeError("unbalanced parentheses")
    return clauses


def _strip_wrapper(text: str) -> str:
    """Accept both the bare clause list and the full
    ``MATCH_RECOGNIZE ( ... )`` form."""
    s = text.strip()
    m = re.match(r"(?is)^\s*MATCH_RECOGNIZE\s*\(", s)
    if m:
        if not s.endswith(")"):
            raise MatchRecognizeError("MATCH_RECOGNIZE( ... ) not closed")
        s = s[m.end() :].rstrip()[:-1]
    return s


# --- clause parsers ---------------------------------------------------


def _parse_by(tokens: list[str], clause: str) -> str:
    # tokens: BY <ident> [ASC]
    if not tokens or tokens[0].upper() != "BY":
        raise MatchRecognizeError(f"{clause} must be followed by BY")
    body = tokens[1:]
    if body and body[-1].upper() in ("ASC",):
        body = body[:-1]
    if body and body[-1].upper() == "DESC":
        raise MatchRecognizeError(
            f"{clause} BY ... DESC is not supported (patterns read the "
            "stream forward)"
        )
    if len(body) != 1 or not re.match(r"^[A-Za-z_]\w*$", body[0]):
        raise MatchRecognizeError(
            f"{clause} BY supports exactly one plain column, got {body!r}"
        )
    return body[0]


def _split_top_commas(tokens: list[str]) -> list[list[str]]:
    parts, cur, depth = [], [], 0
    for tok in tokens:
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        if tok == "," and depth == 0:
            parts.append(cur)
            cur = []
        else:
            cur.append(tok)
    if cur:
        parts.append(cur)
    return parts


def _parse_measures(tokens: list[str]) -> tuple[list[tuple], dict]:
    """→ (list of (kind, var, col, alias), {alias: mode}) where mode is
    "running" / "final" / None (no keyword — the per-rows-mode default
    is resolved in translate: FINAL under ONE ROW PER MATCH, RUNNING
    under ALL ROWS PER MATCH, both per SQL:2016)."""
    out = []
    modes: dict[str, str | None] = {}
    for part in _split_top_commas(tokens):
        if len(part) < 3 or part[-2].upper() != "AS":
            raise MatchRecognizeError(
                f"each measure needs 'AS <alias>': {' '.join(part)!r}"
            )
        alias = part[-1]
        if not re.match(r"^[A-Za-z_]\w*$", alias):
            raise MatchRecognizeError(f"bad measure alias {alias!r}")
        if alias.upper() in _CLAUSE_KEYWORDS:
            raise MatchRecognizeError(
                f"measure alias {alias!r} collides with a clause keyword "
                "— rename it"
            )
        if alias.startswith("__"):
            raise MatchRecognizeError(
                f"measure alias {alias!r}: the '__' prefix is reserved "
                "for internal projection names"
            )
        body = part[:-2]
        mode = None
        if body and body[0].upper() in ("RUNNING", "FINAL"):
            mode = body[0].lower()
            body = body[1:]
        modes[alias] = mode
        if not body:
            raise MatchRecognizeError(
                f"empty measure expression before 'AS {alias}'"
            )
        up0 = body[0].upper()
        if up0 in ("MATCH_NUMBER", "CLASSIFIER") and body[1:] == ["(", ")"]:
            # SQL:2016 nullary built-ins.  MATCH_NUMBER() is the
            # 1-based sequential match number within the partition
            # (match_seq + 1).  CLASSIFIER() is the matched variable:
            # per-row under ALL ROWS RUNNING, the LAST row's variable
            # under FINAL / ONE ROW PER MATCH.
            out.append((up0.lower(), None, None, alias))
        elif (
            up0 in ("FIRST", "LAST", "SUM", "MIN", "MAX")
            and len(body) == 6
            and body[1] == "("
        ):
            # FIRST|LAST|SUM|MIN|MAX ( V . col )
            if body[3] != "." or body[5] != ")":
                raise MatchRecognizeError(
                    f"bad measure {' '.join(body)!r} (expected "
                    f"{up0}(var.col))"
                )
            out.append((up0.lower(), body[2], body[4], alias))
        elif up0 == "COUNT" and len(body) >= 4 and body[1] == "(" and body[-1] == ")":
            inner = body[2:-1]
            if len(inner) == 3 and inner[1] == "." and inner[2] == "*":
                out.append(("count", inner[0], None, alias))
            elif len(inner) == 1:
                out.append(("count", inner[0], None, alias))
            else:
                raise MatchRecognizeError(
                    f"COUNT measure supports COUNT(V.*) / COUNT(V): "
                    f"{' '.join(body)!r}"
                )
        elif len(body) == 3 and body[1] == ".":
            # V.col ≡ LAST(V.col) under ONE ROW PER MATCH final semantics
            out.append(("last", body[0], body[2], alias))
        else:
            raise MatchRecognizeError(
                f"unsupported measure {' '.join(body)!r} (supported: "
                "FIRST/LAST/SUM/MIN/MAX(V.col), COUNT(V.*), V.col, "
                "MATCH_NUMBER(), CLASSIFIER())"
            )
    if not out:
        raise MatchRecognizeError("MEASURES clause is empty")
    return out, modes


def _parse_skip(tokens: list[str]) -> tuple[str, str | None]:
    # tokens: MATCH SKIP ...
    ups = [t.upper() for t in tokens]
    if ups[:2] != ["MATCH", "SKIP"]:
        raise MatchRecognizeError("AFTER must be followed by MATCH SKIP")
    rest = ups[2:]
    if rest == ["PAST", "LAST", "ROW"]:
        return ("past_last", None)
    if rest == ["TO", "NEXT", "ROW"]:
        return ("to_next", None)
    if len(rest) == 3 and rest[0] == "TO" and rest[1] in ("FIRST", "LAST"):
        return ("to_" + rest[1].lower(), tokens[4])
    raise MatchRecognizeError(
        f"unsupported AFTER MATCH SKIP form: {' '.join(tokens[2:])!r} "
        "(supported: PAST LAST ROW, TO NEXT ROW, TO FIRST v, TO LAST v)"
    )


def _parse_subsets(tokens: list[str]) -> dict[str, list[str]]:
    """SQL:2016 SUBSET clause: ``<name> = ( v [, v]... )`` definitions,
    comma-separated.  → {union_name: [member, ...]} in declaration
    order.  Name/member validation against the pattern happens in
    ``translate`` (the pattern is parsed there)."""
    out: dict[str, list[str]] = {}
    for part in _split_top_commas(tokens):
        if (
            len(part) < 4
            or part[1] != "="
            or part[2] != "("
            or part[-1] != ")"
        ):
            raise MatchRecognizeError(
                f"each SUBSET needs '<name> = ( <var> [, <var>]... )': "
                f"{' '.join(part)!r}"
            )
        name = part[0]
        if not re.match(r"^[A-Za-z_]\w*$", name):
            raise MatchRecognizeError(f"bad SUBSET name {name!r}")
        if name.startswith("__"):
            raise MatchRecognizeError(
                f"SUBSET name {name!r}: the '__' prefix is reserved"
            )
        if name in out:
            raise MatchRecognizeError(f"SUBSET {name!r} defined twice")
        body = part[3:-1]
        # strictly comma-separated identifiers: idents at even
        # positions, commas at odd, ending on an ident
        for i, tok in enumerate(body):
            want_ident = i % 2 == 0
            if want_ident == (tok == ","):
                raise MatchRecognizeError(
                    f"bad SUBSET member list in {name!r}: "
                    f"{' '.join(body)!r}"
                )
        if not body:
            raise MatchRecognizeError(
                f"SUBSET {name!r} needs at least one member variable"
            )
        if len(body) % 2 == 0:
            raise MatchRecognizeError(
                f"trailing comma in SUBSET {name!r} member list: "
                f"{' '.join(body)!r}"
            )
        members = body[::2]
        if len(set(members)) != len(members):
            raise MatchRecognizeError(
                f"SUBSET {name!r} lists a member twice"
            )
        out[name] = members
    return out


_QUANT_OPEN = {"*": (0, None), "+": (1, None), "?": (0, 1)}

_INTERVAL_MICROS = {
    "SECOND": 1_000_000,
    "MINUTE": 60 * 1_000_000,
    "HOUR": 3_600 * 1_000_000,
    "DAY": 86_400 * 1_000_000,
}


def _split_within(tokens: list[str]) -> tuple[list[str], int | None]:
    """Split a PATTERN clause body into the parenthesized pattern and
    an optional trailing ``WITHIN INTERVAL '<n>' <unit>`` (Flink SQL's
    time-bounded MATCH_RECOGNIZE).  Returns (pattern_tokens, micros)."""
    if not tokens or tokens[0] != "(":
        raise MatchRecognizeError("PATTERN needs parentheses")
    depth = 0
    close = None
    for i, tok in enumerate(tokens):
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
            if depth == 0:
                close = i
                break
    if close is None:
        raise MatchRecognizeError("PATTERN needs parentheses")
    rest = tokens[close + 1 :]
    micros = None
    ups = [t.upper() for t in rest]
    if (
        len(rest) >= 4
        and ups[0] == "WITHIN"
        and ups[1] == "INTERVAL"
        and rest[2].startswith("'")
        and ups[3] in _INTERVAL_MICROS
    ):
        try:
            n = int(rest[2][1:-1])
        except ValueError:
            raise MatchRecognizeError(
                f"WITHIN INTERVAL needs an integer literal, got {rest[2]}"
            ) from None
        if n <= 0:
            raise MatchRecognizeError("WITHIN INTERVAL must be positive")
        micros = n * _INTERVAL_MICROS[ups[3]]
        rest, ups = rest[4:], ups[4:]
    if not rest:
        return tokens[: close + 1], micros
    if ups[0] == "SUBSET":
        # the SUBSET clause gate needs '<name> =' after the keyword; a
        # malformed definition leaves these tokens dangling here
        # (whether or not a valid WITHIN preceded them) — name the
        # real problem
        raise MatchRecognizeError(
            f"malformed SUBSET clause {' '.join(rest)!r}: each SUBSET "
            "needs '<name> = ( <var> [, <var>]... )'"
        )
    raise MatchRecognizeError(
        f"unexpected tokens after PATTERN: {' '.join(rest)!r} "
        "(supported: WITHIN INTERVAL '<n>' SECOND|MINUTE|HOUR|DAY)"
    )


def _parse_pattern(
    tokens: list[str],
) -> tuple[list[list[tuple]], set, bool, bool]:
    """→ (branches, excluded_vars, anchor_start, anchor_end): one
    element list per '|'-separated alternation branch (a single-branch
    list when there is no '|'), each element ``(var, from, to|None,
    reluctant|None)`` — ``to`` None means unbounded; quantifier None
    (singleton) has from=to=1 and reluctant=None — plus the set of
    ``{- -}``-excluded variable names across all branches and the
    SQL:2016 partition anchors (leading ``^`` / trailing ``$``)."""
    if not tokens or tokens[0] != "(" or tokens[-1] != ")":
        raise MatchRecognizeError("PATTERN needs parentheses")
    body = tokens[1:-1]
    anchor_start = bool(body) and body[0] == "^"
    if anchor_start:
        body = body[1:]
    anchor_end = bool(body) and body[-1] == "$"
    if anchor_end:
        body = body[:-1]
    if (anchor_start or anchor_end) and "|" in body:
        # SQL parses `^ A | B $` as `(^ A) | (B $)` — alternation
        # binds looser than anchoring — and per-branch anchors are not
        # supported, so reject instead of silently anchoring every
        # branch
        raise MatchRecognizeError(
            "anchors with alternation are not supported (SQL would "
            "anchor individual branches; parenthesize-per-branch "
            "anchoring is outside this subset)"
        )
    if "^" in body or "$" in body:
        # also covers the wrong-edge forms ($ E) / (E ^): after the
        # edge strip any remaining anchor token is misplaced
        raise MatchRecognizeError(
            "misplaced PATTERN anchor: '^' may only LEAD the pattern "
            "and '$' may only TRAIL it"
        )
    if "(" in body:
        raise MatchRecognizeError(
            "PATTERN grouping is not supported in this subset"
        )
    # top-level ordered alternation: '|'-separated branches, each a
    # concatenation of var[quant] elements (SQL:2016 prefers
    # alternatives in written order; grouping inside a branch is not
    # supported, so '|' can only appear at the top level)
    branches_tokens: list[list[str]] = [[]]
    excl_depth = 0
    for tok in body:
        if tok == "{-":
            excl_depth += 1
        elif tok == "-}":
            excl_depth = max(0, excl_depth - 1)
        if tok == "|":
            if excl_depth:
                # the '|' would sever the exclusion span; name the real
                # problem instead of the confusing 'unclosed exclusion'
                raise MatchRecognizeError(
                    "alternation inside an exclusion ('{- ... | ... -}') "
                    "is not supported — exclude within each branch "
                    "instead: ({- A -} ... | {- B -} ...)"
                )
            branches_tokens.append([])
        else:
            branches_tokens[-1].append(tok)
    if len(branches_tokens) > 1 and any(not b for b in branches_tokens):
        raise MatchRecognizeError(
            "empty alternation branch ('|' with nothing on one side)"
        )
    branches = []
    excluded: set[str] = set()
    seen: set[str] = set()
    for btokens in branches_tokens:
        belems, bexcluded = _parse_seq(btokens, seen)
        branches.append(belems)
        excluded |= bexcluded
    return branches, excluded, anchor_start, anchor_end


def _parse_seq(body: list[str], seen: set) -> tuple[list[tuple], set]:
    """One alternation branch: a concatenation of ``var[quant]``
    elements with optional ``{- ... -}`` exclusion spans.  ``seen``
    carries variable names across branches (captures are per-variable
    — a name may appear once in the whole PATTERN)."""
    elems: list[tuple] = []
    excluded: set[str] = set()
    in_exclusion = False
    i = 0
    while i < len(body):
        if body[i] == "{-":
            if in_exclusion:
                raise MatchRecognizeError(
                    "PATTERN exclusions cannot nest ('{-' inside '{- -}')"
                )
            in_exclusion = True
            mark = len(elems)
            i += 1
            continue
        if body[i] == "-}":
            if not in_exclusion:
                raise MatchRecognizeError("'-}' without a matching '{-'")
            if len(elems) == mark:
                raise MatchRecognizeError("empty PATTERN exclusion '{- -}'")
            in_exclusion = False
            i += 1
            continue
        var = body[i]
        if not re.match(r"^[A-Za-z_]\w*$", var):
            raise MatchRecognizeError(f"bad pattern variable {var!r}")
        if var.startswith("__"):
            raise MatchRecognizeError(
                f"pattern variable {var!r}: the '__' prefix is reserved "
                "for internal navigation registers"
            )
        i += 1
        lo, hi, quantified = 1, 1, False
        if i < len(body) and body[i] in _QUANT_OPEN:
            lo, hi = _QUANT_OPEN[body[i]]
            quantified = True
            i += 1
        elif i < len(body) and body[i] == "{":
            try:
                j = body.index("}", i)
                nums = body[i + 1 : j]
                if len(nums) == 2 and nums[1] == ",":
                    lo, hi = int(nums[0]), None
                elif len(nums) == 3 and nums[1] == ",":
                    lo, hi = int(nums[0]), int(nums[2])
                elif len(nums) == 1:
                    lo = hi = int(nums[0])
                else:
                    raise ValueError(" ".join(nums))
            except ValueError as exc:
                raise MatchRecognizeError(
                    f"bad quantifier after {var!r}: {{{exc}}}"
                ) from exc
            quantified = True
            i = j + 1
        if hi is not None and hi == 0:
            raise MatchRecognizeError(
                f"quantifier {{{lo},{hi}}} on {var!r}: an always-empty "
                "variable is not supported (drop it from the pattern)"
            )
        if hi is not None and hi < lo:
            raise MatchRecognizeError(
                f"quantifier {{{lo},{hi}}} on {var!r}: upper bound below "
                "lower bound"
            )
        reluctant = None
        if quantified:
            reluctant = False
            if i < len(body) and body[i] == "?":
                reluctant = True
                i += 1
        elems.append((var, lo, hi, reluctant))
        if in_exclusion:
            excluded.add(var)
    if in_exclusion:
        raise MatchRecognizeError("unclosed PATTERN exclusion ('{-' without '-}')")
    if not elems:
        raise MatchRecognizeError("PATTERN is empty")
    for var, *_ in elems:
        if var in seen:
            raise MatchRecognizeError(
                f"pattern variable {var!r} appears twice (captures are "
                "per-variable; rename the second occurrence)"
            )
        seen.add(var)
    if excluded == {var for var, *_ in elems}:
        raise MatchRecognizeError(
            "every variable of a PATTERN branch is excluded ('{- ... -}' "
            "around the whole branch): a match through it would never "
            "output a row under ALL ROWS PER MATCH"
        )
    return elems, excluded


_SQL_KEYWORD_MAP = {"AND": "and", "OR": "or", "NOT": "not", "TRUE": "True", "FALSE": "False"}

_NAV_FNS = ("PREV", "NEXT", "FIRST", "LAST")

# maximum last-taken-row register index the LAST(V.col, n) chain keeps
# (each index is one more per-run register; deeper offsets are rare
# enough in real DEFINEs that the clear error beats silent state bloat)
_MAX_LAST_CHAIN = 2


class _Nav:
    """Per-spec collector for DEFINE navigation.

    * ``physical``: ``PREV``/``NEXT`` navigate PARTITION rows
      (SQL:2016 physical navigation — including rows before the match
      start), so each distinct ``(kind, col, n)`` becomes a
      ``lag``/``lead`` window column computed Spark-side BEFORE the
      kernel (same key partitioning as the kernel exchange → no extra
      shuffle) and referenced by name in the condition.
    * ``registers``: ``FIRST``/``LAST(V.col)`` navigate the rows mapped
      to V in the CURRENT match attempt (logical navigation), which is
      run state — each becomes a per-run accumulator register on V's
      leaf via the engine's iterative-condition ``variables`` mechanism
      (reference lpat-n-m-ic.yml's running-sum shape, compile.py:22-27).
    """

    def __init__(self) -> None:
        self.physical: dict[str, tuple] = {}  # name -> (kind, col, n)
        self.registers: dict[str, dict] = {}  # owner var -> {reg: spec}
        self.guards: dict[str, list[str]] = {}  # define var -> guard exprs

    def _reg(self, owner: str, name: str, initial, update: str) -> str:
        self.registers.setdefault(owner, {})[name] = {
            "initial": initial,
            "update": update,
        }
        return name

    def _count(self, owner: str) -> str:
        return self._reg(
            owner, f"__mr_n_{owner}", 0, f"__mr_n_{owner} + 1"
        )

    def _last_chain(self, owner: str, col: str, upto: int) -> str:
        """Registers ``__mr_l{j}_{owner}_{col}`` = ``col`` of the
        (j+1)-th-from-last row ALREADY taken by ``owner`` (simultaneous
        assignment shifts the chain on each take)."""
        if upto > _MAX_LAST_CHAIN:
            raise MatchRecognizeError(
                f"LAST offset {upto} inside DEFINE exceeds the supported "
                f"register chain ({_MAX_LAST_CHAIN})"
            )
        prev = col
        for j in range(upto + 1):
            name = f"__mr_l{j}_{owner}_{col}"
            self._reg(owner, name, None, prev)
            prev = name
        return f"__mr_l{upto}_{owner}_{col}"

    def _first(self, owner: str, col: str, n: int) -> str:
        cnt = self._count(owner)
        name = f"__mr_f{n}_{owner}_{col}"
        return self._reg(
            owner, name, None, f"({col} if {cnt} == {n} else {name})"
        )


def _consume_nav(
    kw: str,
    var: str,
    tokens: list[str],
    i: int,
    pattern_vars: list[str],
    columns: list[str],
    partition_by: str,
    nav: _Nav,
) -> tuple[str, str | None, int]:
    """Parse a navigation call starting at ``tokens[i]`` (the keyword).
    Returns ``(replacement_expr, guard_expr_or_None, next_index)``.
    Guard exprs enforce SQL's NULL rule on the NAVIGATED value (an
    out-of-range PREV / an unmapped variable yields NULL → the
    predicate is never TRUE); physical navigation needs no explicit
    guard because its replacement is a plain column name the standard
    referenced-column guard covers."""
    up = kw.upper()
    if i + 1 >= len(tokens) or tokens[i + 1] != "(":
        raise MatchRecognizeError(f"DEFINE {var}: {up} needs parentheses")
    try:
        close = tokens.index(")", i + 2)
    except ValueError:
        raise MatchRecognizeError(f"DEFINE {var}: {up}( … not closed") from None
    args = tokens[i + 2 : close]
    qualifier: str | None = None
    if len(args) >= 3 and args[1] == ".":
        qualifier, args = args[0], args[2:]
    col = args[0] if args else None
    n: int
    if len(args) == 1:
        n = 1 if up in ("PREV", "NEXT") else 0
    elif len(args) == 3 and args[1] == "," and re.match(r"^\d+$", args[2]):
        n = int(args[2])
    else:
        raise MatchRecognizeError(
            f"DEFINE {var}: bad {up} arguments {' '.join(tokens[i:close+1])!r} "
            f"(supported: {up}([V.]col [, n]))"
            if up in ("PREV", "NEXT")
            else f"DEFINE {var}: bad {up} arguments "
            f"{' '.join(tokens[i:close+1])!r} (supported: {up}(V.col [, n]))"
        )
    if col is None or not re.match(r"^[A-Za-z_]\w*$", col):
        raise MatchRecognizeError(f"DEFINE {var}: {up} needs a column argument")
    if col == partition_by:
        raise MatchRecognizeError(
            f"DEFINE {var}: {up}({col}) navigates the PARTITION BY key — "
            "it is constant within a key and not a navigable attribute"
        )
    if col not in columns:
        raise MatchRecognizeError(
            f"DEFINE {var}: {up} references unknown column {col!r}"
        )

    if up in ("PREV", "NEXT"):
        if qualifier is not None and qualifier != var:
            raise MatchRecognizeError(
                f"DEFINE {var}: {up}({qualifier}.{col}) — physical "
                "navigation may only qualify with the variable being "
                f"defined ({up} reads PARTITION rows regardless of the "
                "qualifier in SQL:2016; write the defining variable or "
                "no qualifier)"
            )
        if n == 0:
            return col, None, close + 1  # current row
        kind = "prev" if up == "PREV" else "next"
        name = f"__mr_{kind}{n}_{col}"
        nav.physical[name] = (kind, col, n)
        return name, None, close + 1

    # FIRST / LAST: logical navigation over the rows mapped to V
    if qualifier is None:
        raise MatchRecognizeError(
            f"DEFINE {var}: {up}({col}) — logical navigation needs the "
            f"pattern variable: {up}(V.{col} [, n])"
        )
    if qualifier not in pattern_vars:
        raise MatchRecognizeError(
            f"DEFINE {var}: {up}({qualifier}.{col}) references unknown "
            f"pattern variable {qualifier!r} (have {pattern_vars})"
        )
    owner = qualifier
    if owner == var:
        # RUNNING semantics: the current row is tentatively mapped to
        # the variable being defined, so offsets shift by one onto the
        # already-taken registers (offset 0 = the current row itself).
        if up == "LAST":
            repl = col if n == 0 else nav._last_chain(owner, col, n - 1)
        else:
            cnt = nav._count(owner)
            reg = nav._first(owner, col, n)
            repl = f"({col} if {cnt} == {n} else {reg})"
    else:
        repl = (
            nav._last_chain(owner, col, n)
            if up == "LAST"
            else nav._first(owner, col, n)
        )
    guard = None if repl == col else f"({repl} == {repl} and {repl} != None)"
    return repl, guard, close + 1


def _condition_to_expr(
    var: str,
    tokens: list[str],
    pattern_vars: list[str],
    columns: list[str],
    partition_by: str,
    nav: _Nav,
) -> str:
    """Translate a SQL DEFINE condition into the engine's expression
    sub-language: strip the self-variable qualifier, map operators and
    keywords, keep literals, and expand PREV/NEXT/FIRST/LAST navigation
    (see :class:`_Nav`).  Validated by expr.validate afterwards."""
    out: list[str] = []
    i = 0
    while i < len(tokens):
        tok = tokens[i]
        up = tok.upper()
        if (
            up in _NAV_FNS
            and i + 1 < len(tokens)
            and tokens[i + 1] == "("
        ):
            repl, guard, i = _consume_nav(
                tok, var, tokens, i, pattern_vars, columns, partition_by, nav
            )
            if guard is not None and guard not in nav.guards.setdefault(var, []):
                nav.guards[var].append(guard)
            out.append(repl)
            continue
        if (
            re.match(r"^[A-Za-z_]\w*$", tok)
            and i + 2 < len(tokens)
            and tokens[i + 1] == "."
        ):
            if tok != var:
                raise MatchRecognizeError(
                    f"DEFINE {var}: condition references {tok}.{tokens[i+2]} "
                    "— a plain cross-variable column read is not in this "
                    "subset (navigate it: LAST({0}.{1}) / "
                    "FIRST({0}.{1}))".format(tok, tokens[i + 2])
                )
            out.append(tokens[i + 2])
            i += 3
            continue
        if up in _SQL_KEYWORD_MAP:
            out.append(_SQL_KEYWORD_MAP[up])
        elif tok == "=":
            out.append("==")
        elif tok == "<>":
            out.append("!=")
        elif tok.startswith("'"):
            # SQL string literal → Python literal ('' unescapes)
            out.append(repr(tok[1:-1].replace("''", "'")))
        else:
            out.append(tok)
        i += 1
    return " ".join(out)


# --- translation ------------------------------------------------------


def translate(spec: str, columns: Sequence[str]) -> dict:
    """Parse a MATCH_RECOGNIZE spec and build the translation record:
    ``{query, partition_by, order_by, measures, skip, prefer}``.
    Pure function — no Spark session needed (unit-testable)."""
    tokens = _tokenize(_strip_wrapper(spec))
    clauses = _split_clauses(tokens)

    for required in ("PARTITION", "ORDER", "PATTERN", "MEASURES"):
        if required not in clauses:
            raise MatchRecognizeError(f"missing {required} clause")
    rows_per_match = "one"
    if "ALL" in clauses and "ONE" in clauses:
        raise MatchRecognizeError(
            "both ONE ROW PER MATCH and ALL ROWS PER MATCH given"
        )
    if "ALL" in clauses:
        ups = [t.upper() for t in clauses["ALL"]]
        if ups != ["ROWS", "PER", "MATCH"]:
            raise MatchRecognizeError("expected ALL ROWS PER MATCH")
        rows_per_match = "all"
    if "ONE" in clauses:
        ups = [t.upper() for t in clauses["ONE"]]
        if ups != ["ROW", "PER", "MATCH"]:
            raise MatchRecognizeError("expected ONE ROW PER MATCH")

    partition_by = _parse_by(clauses["PARTITION"], "PARTITION")
    order_by = _parse_by(clauses["ORDER"], "ORDER")
    measures, raw_modes = _parse_measures(clauses["MEASURES"])
    # SQL:2016 measure semantics: under ONE ROW PER MATCH the match is
    # complete when the row is emitted, so RUNNING ≡ FINAL; under ALL
    # ROWS PER MATCH the DEFAULT is RUNNING (aggregates over the rows
    # mapped so far, per output row) and FINAL must be asked for.
    measure_modes = {
        alias: (
            "final"
            if rows_per_match == "one"
            else (raw_modes.get(alias) or "running")
        )
        for _k, _v, _c, alias in measures
    }
    skip = (
        _parse_skip(clauses["AFTER"]) if "AFTER" in clauses else ("past_last", None)
    )
    pattern_tokens, within_micros = _split_within(clauses["PATTERN"])
    branches, excluded_vars, anchor_start, anchor_end = _parse_pattern(
        pattern_tokens
    )
    elems = [e for b in branches for e in b]
    pattern_vars = [e[0] for e in elems]
    for b in branches:
        if sum(e[1] for e in b) == 0:
            # SQL:2016 emits an EMPTY MATCH per eligible row for such
            # patterns; this engine has no row to anchor one to, so
            # reject at translate time (mirroring Flink SQL's "pattern
            # can match empty" rejection) instead of silently emitting
            # nothing.  With alternation, ONE zero-min branch already
            # makes the whole pattern empty-matchable.
            raise MatchRecognizeError(
                f"PATTERN branch ({' '.join(e[0] for e in b)}) can match "
                "zero rows (every quantifier's lower bound is 0) — SQL's "
                "empty-match semantics are not supported; give some "
                "variable a nonzero lower bound"
            )

    subsets: dict[str, list[str]] = (
        _parse_subsets(clauses["SUBSET"]) if "SUBSET" in clauses else {}
    )
    for uname, members in subsets.items():
        if uname in pattern_vars:
            raise MatchRecognizeError(
                f"SUBSET name {uname!r} collides with a pattern variable"
            )
        for m in members:
            if m not in pattern_vars:
                raise MatchRecognizeError(
                    f"SUBSET {uname!r} member {m!r} does not appear in "
                    f"PATTERN {pattern_vars}"
                )

    nav = _Nav()
    defines: dict[str, str] = {}
    if "DEFINE" in clauses:
        for part in _split_top_commas(clauses["DEFINE"]):
            if len(part) < 3 or part[1].upper() != "AS":
                raise MatchRecognizeError(
                    f"each DEFINE needs '<var> AS <condition>': "
                    f"{' '.join(part)!r}"
                )
            var = part[0]
            if var in defines:
                raise MatchRecognizeError(f"variable {var!r} defined twice")
            if var not in pattern_vars:
                raise MatchRecognizeError(
                    f"DEFINE {var!r} does not appear in PATTERN "
                    f"{pattern_vars}"
                )
            defines[var] = _condition_to_expr(
                var, part[2:], pattern_vars, list(columns), partition_by, nav
            )
    if nav.physical or nav.registers:
        # navigation resolves names through ChainMap(attrs, registers):
        # an input column spelled like a register would silently shadow
        # the per-run state — reject it on BOTH surfaces, for logical
        # and physical navigation alike.
        for c in columns:
            if c.startswith("__mr_"):
                raise MatchRecognizeError(
                    f"input column {c!r}: the '__mr_' prefix is reserved "
                    "for navigation columns and registers"
                )
    if skip[1] is not None and skip[1] not in pattern_vars:
        if skip[1] in subsets:
            raise MatchRecognizeError(
                f"AFTER MATCH SKIP cannot target SUBSET {skip[1]!r} — "
                "skip to one of its member variables instead"
            )
        raise MatchRecognizeError(
            f"AFTER MATCH SKIP targets unknown variable {skip[1]!r}"
        )
    if skip[1] is not None and len(branches) > 1:
        # every skip target is branch-local (branches span the whole
        # pattern), so a match through another branch leaves the target
        # with no captured row — SQL's runtime error, which inside an
        # executor would abort the whole job data-dependently.  Reject
        # the combination up front.
        raise MatchRecognizeError(
            f"AFTER MATCH SKIP TO FIRST/LAST {skip[1]!r} cannot combine "
            "with alternation: the target captures nothing when another "
            "branch matches (use SKIP PAST LAST ROW or SKIP TO NEXT ROW)"
        )
    seen_aliases: set = set()
    # names the output projection already owns — a colliding measure
    # alias would raise an AMBIGUOUS_REFERENCE AnalysisException later
    # (or silently duplicate a column name); reject it here instead.
    reserved = {partition_by, "match_seq"}
    if rows_per_match == "all":
        reserved.add("classifier")
        reserved.update(columns)
    for kind, var, col, alias in measures:
        # alias rules shared by every measure kind — ONE enforcement
        if alias in seen_aliases:
            raise MatchRecognizeError(f"duplicate measure alias {alias!r}")
        if alias in reserved:
            raise MatchRecognizeError(
                f"measure alias {alias!r} collides with an output column "
                f"({'partition/match_seq/classifier/event columns' if rows_per_match == 'all' else 'partition column or match_seq'})"
            )
        seen_aliases.add(alias)
        if kind in ("match_number", "classifier"):
            continue  # nullary: no variable/column to validate
        if var not in pattern_vars and var not in subsets:
            raise MatchRecognizeError(
                f"measure {alias!r} references unknown variable {var!r}"
            )
        if col is not None and col == partition_by:
            raise MatchRecognizeError(
                f"measure {alias!r} references the PARTITION BY column "
                f"{col!r} — it is the grouping key, not a captured event "
                "attribute (project it directly: it is already an output "
                "column)"
            )
        if col is not None and col not in columns:
            raise MatchRecognizeError(
                f"measure {alias!r} references unknown column {col!r}"
            )

    reluctants = {e[3] for e in elems if e[3] is not None}
    if len(reluctants) > 1:
        raise MatchRecognizeError(
            "mixing greedy and reluctant quantifiers in one PATTERN is "
            "not supported (the per-start preference would be ambiguous)"
        )
    # alternation with reluctant quantifiers is refused by the plan
    # (keyed._validate_sql_pattern): lexicographic MIN would invert SQL's
    # written-order branch preferment
    prefer = "shortest" if reluctants == {True} else "longest"

    import ast as _pyast

    attr_cols = [c for c in columns if c != partition_by]
    nav_names = set(nav.physical)
    register_names = {
        r for regs in nav.registers.values() for r in regs
    }
    for var, cond in list(defines.items()):
        try:
            expr_mod.validate(cond)
        except expr_mod.ExprError as exc:
            raise MatchRecognizeError(
                f"DEFINE condition not in the supported sub-language: {exc}"
            ) from exc
        # Names must resolve at kernel time: the condition sees the
        # current row's non-key columns (the partition column is the
        # grouping key, not an event attribute) plus the navigation
        # columns/registers — catch a bad name here instead of a
        # KeyError inside a running executor.
        referenced = []
        for node in _pyast.walk(_pyast.parse(cond, mode="eval")):
            if isinstance(node, _pyast.Name):
                if node.id == partition_by:
                    raise MatchRecognizeError(
                        f"DEFINE {var}: column {node.id!r} is the "
                        "PARTITION BY key — it is constant within a "
                        "match and not visible to conditions"
                    )
                if node.id in register_names:
                    continue  # per-run registers: NULL semantics are
                    #           handled by nav.guards, never column-style
                if node.id not in attr_cols and node.id not in nav_names:
                    raise MatchRecognizeError(
                        f"DEFINE {var}: unknown column {node.id!r} "
                        f"(row columns: {attr_cols})"
                    )
                if node.id not in referenced:
                    referenced.append(node.id)
        # SQL NULL rule (module docstring): NULL/NaN in any referenced
        # column → the variable does not match the row.  `c == c`
        # rejects NaN (NaN != NaN), `c != None` rejects None; `and`
        # short-circuits, so ordered comparisons never see a None.
        # Navigation results get the same rule via nav.guards (an
        # out-of-range PREV / unmapped variable is NULL → never TRUE).
        guards = [
            f"({c} == {c} and {c} != None)" for c in referenced
        ] + nav.guards.get(var, [])
        if guards:
            defines[var] = f"{' and '.join(guards)} and ({cond})"

    # SQL matches CONTIGUOUS rows: strict combine + strict loops.
    def leaf(var: str, lo: int, hi: int | None) -> dict:
        cndt = {"expr": defines.get(var, "True")}
        node: dict
        if lo == 1 and hi == 1:
            node = {"type": "spat", "name": var, "event": "row", "cndt": cndt}
        elif hi is None:
            node = {
                "type": "lpat-inf",
                "name": var,
                "event": "row",
                "cndt": cndt,
                "loop": {"contiguity": "strict", "from": lo},
            }
        else:
            node = {
                "type": "lpat",
                "name": var,
                "event": "row",
                "cndt": cndt,
                "loop": {"contiguity": "strict", "from": lo, "to": hi},
            }
        if var in nav.registers:
            # FIRST/LAST navigation registers ride the engine's
            # iterative-condition `variables` mechanism: per-run
            # accumulators updated on each row this variable takes.
            node["variables"] = nav.registers[var]
        return node

    def seq_ast(belems):
        node = leaf(*belems[0][:3])
        for var, lo, hi, _rel in belems[1:]:
            node = {
                "type": "combine",
                "contiguity": "strict",
                "left": node,
                "right": leaf(var, lo, hi),
            }
        return node

    # alternation: left-fold alt nodes — capture_names and ε-edge
    # priority both walk left-first, so names order and exploration
    # order match the written alternative order (SQL's preferment)
    patseq = seq_ast(branches[0])
    for b in branches[1:]:
        patseq = {"type": "alt", "left": patseq, "right": seq_ast(b)}


    from reflinkcep_spark.cep.query import QueryError

    try:
        query = Query(
            patseq,
            {
                "schema": {"row": [c for c in columns]},
                "strategy": "NoSkip",
                "name": "<match_recognize>",
            },
        )
    except QueryError as exc:
        # every AST-shape rule should be caught above with a clearer
        # message; this keeps the module's error contract total.
        raise MatchRecognizeError(
            f"PATTERN translates to an invalid pattern AST: {exc}"
        ) from exc
    return {
        "query": query,
        "partition_by": partition_by,
        "order_by": order_by,
        "measures": measures,
        "skip": skip,
        "prefer": prefer,
        "rows_per_match": rows_per_match,
        "pattern_vars": pattern_vars,
        "measure_modes": measure_modes,
        # Flink SQL's time-bounded MATCH_RECOGNIZE: PATTERN (...) WITHIN
        # INTERVAL '<n>' <unit> → first-to-last match span bound in
        # MICROSECONDS; the caller supplies the timestamp column
        # (match_recognize(..., time_col=...)).
        "within_micros": within_micros,
        # SQL:2016 pattern exclusion {- V -}: excluded variables match
        # and feed MEASURES normally, but their rows are omitted from
        # ALL ROWS PER MATCH output (no effect under ONE ROW PER
        # MATCH, per the standard).
        "excluded_vars": sorted(excluded_vars),
        # SQL:2016 partition anchors: ^ pins matches to the key's
        # first row, $ to its last — enforced kernel-side (candidates
        # filtered before the per-start fold)
        "anchor_start": anchor_start,
        "anchor_end": anchor_end,
        # SQL:2016 SUBSET unions: {name: [member, ...]} — resolved at
        # projection time (a union's captures are the member captures
        # in pattern order); pattern matching itself never sees them.
        "subsets": subsets,
        # PREV/NEXT physical navigation: {col_name: (kind, col, n)} the
        # caller must materialize as lag/lead window columns keyed on
        # the partition column BEFORE running the kernel.
        "nav_columns": nav.physical,
    }


def match_recognize(df: DataFrame, spec: str, **kernel_kwargs) -> DataFrame:
    """Run a SQL ``MATCH_RECOGNIZE`` clause over a DataFrame of rows.

    Output — ONE ROW PER MATCH (default): partition column,
    ``match_seq``, then the MEASURES in declaration order.
    ALL ROWS PER MATCH: partition column, ``match_seq``,
    ``classifier`` (which variable consumed the row), every event
    column, then the MEASURES (RUNNING by default: over the rows up to
    this one in match order; ``FINAL`` ones repeat per row).
    With ``on_limit="truncate"`` a hot key that trips
    ``max_active_runs`` keeps its sentinel row in BOTH modes
    (``match_seq = -1``, NULL classifier/event/measure columns).

    ``time_col`` names the timestamp column of ``WITHIN INTERVAL``.
    The other ``kernel_kwargs`` pass through to
    :func:`reflinkcep_spark.operators.match_pattern`:
    ``max_active_runs``, ``on_limit``, ``within``, ``within_col``,
    ``pre_partitioned`` and ``allow_fastpath``.  ``attr_cols`` is
    refused: the kernel ships every non-key column, which PREV/NEXT,
    DEFINE, MEASURES and ALL ROWS read; ``select`` the input first.
    """
    return _lower(df, spec, kernel_kwargs, stream=False)


def match_recognize_stream(df: DataFrame, spec: str, **kernel_kwargs) -> DataFrame:
    """Run a SQL ``MATCH_RECOGNIZE`` clause over a *streaming*
    DataFrame: the batch surface's lowering onto
    :func:`reflinkcep_spark.streaming.cep.match_pattern_stream`, whose
    plan refuses what a stream cannot select (greedy preference,
    ordered skip modes, more than one flexibly-quantified variable, and
    so every alternation).  Two more refusals are MATCH_RECOGNIZE's own:
    ``PREV``/``NEXT`` physical navigation (Spark has no ``lag``/``lead``
    window on a stream; ``FIRST``/``LAST`` logical navigation works) and
    anchors (``$`` needs the key's last row).

    ``time_col`` is the batch surface's.  The other ``kernel_kwargs``
    pass through to ``match_pattern_stream``: ``max_active_runs``,
    ``idle_timeout_ms``, ``event_time_col``, ``within`` and
    ``within_col``; ``attr_cols`` is refused as in batch.

    ``match_seq`` is completion-ordered, where the batch surface
    numbers by start order — project it away (or renumber) when
    pinning stream ≡ batch equality.
    """
    return _lower(df, spec, kernel_kwargs, stream=True)


def _lower(df: DataFrame, spec: str, kernel_kwargs: dict, stream: bool) -> DataFrame:
    """The one lowering of both surfaces: translate, stamp the rows for
    WITHIN INTERVAL, decide the kernel's attribute columns, build the
    PREV/NEXT window (batch), run the operator and project.  A plan-time
    ``ValueError`` of the operator (``KeyedPlan``'s SQL and stream
    rails) is re-raised as :class:`MatchRecognizeError`."""
    if "attr_cols" in kernel_kwargs:
        raise MatchRecognizeError(
            "attr_cols is not a MATCH_RECOGNIZE option: navigation, DEFINE, "
            "MEASURES and ALL ROWS read every non-key column — select the "
            "input's columns before the call instead"
        )
    time_col = kernel_kwargs.pop("time_col", None)
    t = translate(spec, df.columns)
    orig_columns = list(df.columns)
    df, kernel_kwargs = _attach_within_stamp(df, t, time_col, kernel_kwargs)
    pb, nav = t["partition_by"], t["nav_columns"]
    if stream and nav:
        raise MatchRecognizeError(
            "PREV/NEXT navigation needs a lag/lead window, which Spark "
            "does not support on streaming DataFrames — use the batch "
            "surface (FIRST/LAST logical navigation streams fine)"
        )
    if stream and (t["anchor_start"] or t["anchor_end"]):
        raise MatchRecognizeError(
            "anchors (^/$) are not supported on the streaming surface: "
            "'$' needs the partition's LAST row, which an unbounded "
            "stream never has, and '^' would pin state to stream start "
            "— run anchored patterns through the batch surface"
        )
    # The kernel's columns, decided once: every non-key column, the stamp
    # and the navigation columns included.
    attr_cols = [c for c in df.columns if c != pb] + list(nav)
    kwargs = dict(
        order_by=t["order_by"], partition_by=pb, type_col=None,
        attr_cols=attr_cols, sql_skip=t["skip"], sql_prefer=t["prefer"],
        **kernel_kwargs,
    )
    if stream:
        from reflinkcep_spark.streaming.cep import match_pattern_stream as run
    else:
        from reflinkcep_spark.operators import match_pattern as run

        kwargs.update(anchor_start=t["anchor_start"], anchor_end=t["anchor_end"])
        if nav:
            df = _attach_nav_columns(df, t, kwargs)
    try:
        out = run(df, t["query"], **kwargs)
    except ValueError as exc:
        raise MatchRecognizeError(str(exc)) from exc
    return _project(out, t, df.schema, orig_columns)


def _attach_nav_columns(df: DataFrame, t: dict, kwargs: dict) -> DataFrame:
    """PREV/NEXT as ``lag``/``lead`` window columns below the kernel.
    The window sorts by the kernel's own order rule over the same
    ``kwargs["attr_cols"]``, on the kernel's key partitioning: unless
    the caller asserted ``pre_partitioned`` (a bucketed log, zero
    exchanges), repartition once here and assert it for the kernel.  So
    the plan is Exchange → Sort → Window → MapInPandas, one exchange and
    one sort, as without navigation.  ``kwargs`` is updated in place."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from reflinkcep_spark.cep.keyed import key_partitioned, order_cols, sort_exprs

    pb = t["partition_by"]
    if not kwargs.get("pre_partitioned"):
        df = key_partitioned(df, [pb])
        kwargs["pre_partitioned"] = True
    order = order_cols(t["order_by"], None, kwargs["attr_cols"], df.schema)
    w = Window.partitionBy(pb).orderBy(*sort_exprs(order))
    for name, (kind, col, n) in t["nav_columns"].items():
        fn = F.lag if kind == "prev" else F.lead
        df = df.withColumn(name, fn(col, n).over(w))
    return df


def _attach_within_stamp(df, t: dict, time_col, kernel_kwargs: dict):
    """WITHIN INTERVAL → the kernel's time-based ``within``: stamp the
    rows with ``unix_micros(time_col)`` (a reserved ``__mr_stamp``
    column the projections never expose) and thread within/within_col
    through.  The kernel's monotonicity guard enforces that event time
    is non-decreasing in ORDER BY order per key."""
    if t.get("within_micros") is None:
        if time_col is not None:
            raise MatchRecognizeError(
                "time_col was given but the spec has no WITHIN INTERVAL "
                "clause"
            )
        return df, kernel_kwargs
    if time_col is None:
        raise MatchRecognizeError(
            "PATTERN ... WITHIN INTERVAL needs the event-time column: "
            "match_recognize(df, spec, time_col='<timestamp col>')"
        )
    if time_col not in df.columns:
        raise MatchRecognizeError(
            f"time_col {time_col!r} is not a column of the input"
        )
    if "within" in kernel_kwargs or "within_col" in kernel_kwargs:
        raise MatchRecognizeError(
            "WITHIN INTERVAL and explicit within/within_col kwargs are "
            "mutually exclusive — pick one surface"
        )
    if "__mr_stamp" in df.columns:
        raise MatchRecognizeError(
            "input column '__mr_stamp': the '__mr_' prefix is reserved"
        )
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get(time_col)
    if ts_type == "timestamp":
        stamp = F.unix_micros(F.col(time_col))
    elif ts_type == "timestamp_ntz":
        # Parquet TIMESTAMP(isAdjustedToUTC=false) reads as
        # TIMESTAMP_NTZ, which unix_micros() rejects.  Read the naive
        # value AS UTC (the load_table convention, bit-for-bit with
        # engines that treat naive values as UTC) via an NTZ-native
        # diff — no session-timezone dependence or mutation.
        quoted = "`" + time_col.replace("`", "``") + "`"
        stamp = F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', {quoted})"
        )
    else:
        raise MatchRecognizeError(
            f"time_col {time_col!r} must be a TIMESTAMP column, got "
            f"{ts_type}"
        )
    kernel_kwargs = dict(kernel_kwargs)
    kernel_kwargs["within"] = t["within_micros"]
    kernel_kwargs["within_col"] = "__mr_stamp"
    return df.withColumn("__mr_stamp", stamp), kernel_kwargs


def _sum_acc_type(schema, col: str) -> str:
    """SQL SUM widening: integral → BIGINT, DECIMAL stays EXACT at max
    precision / same scale (the repo's exact-cents discipline),
    floating → DOUBLE."""
    from pyspark.sql.types import DecimalType

    integral = {"byte", "short", "integer", "long"}
    dt = next((f.dataType for f in schema.fields if f.name == col), None)
    if dt is not None and dt.typeName() in integral:
        return "long"
    if isinstance(dt, DecimalType):
        return f"decimal(38,{dt.scale})"
    return "double"


def _aggregate(kind: str, elems, col, schema):
    """COUNT / FIRST / LAST / MIN / MAX / SUM over ``elems``, an array
    of captured events in MATCH order — the one definition every
    measure (FINAL, SUBSET, RUNNING) uses.  NULL over an empty array
    (SQL aggregate semantics), except COUNT, which is 0; SUM widens per
    :func:`_sum_acc_type` (``schema`` is the kernel INPUT schema)."""
    from pyspark.sql import functions as F

    if kind == "count":
        return F.size(elems).cast("long")
    if kind == "first":
        return F.get(elems, F.lit(0))[col]
    if kind == "last":
        return F.get(elems, F.size(elems) - 1)[col]
    vals = F.transform(elems, lambda e: e[col])
    if kind == "min":
        return F.array_min(vals)
    if kind == "max":
        return F.array_max(vals)
    acc = _sum_acc_type(schema, col)  # sum
    return F.when(
        F.size(vals) > 0,
        F.aggregate(vals, F.lit(0).cast(acc), lambda a, x: a + x.cast(acc)),
    )


def _members(t: dict, var: str) -> list:
    """The pattern variables behind a measure's variable, in PATTERN
    order: the variable itself, or a SUBSET's members."""
    members = (t.get("subsets") or {}).get(var, [var])
    return [v for v in t["pattern_vars"] if v in members]


def _measure_columns(t: dict, schema, measures=None) -> list:
    """FINAL MEASURES → codegen column algebra over the kernel's
    capture arrays (no Python).  A variable's captures are its array; a
    SUBSET's are its members' arrays concatenated in pattern order,
    which is match order (module docstring).  ``measures`` restricts to
    a subset (the ALL ROWS projection computes RUNNING measures
    separately)."""
    from pyspark.sql import functions as F

    measure_cols = []
    for kind, var, col, alias in (
        t["measures"] if measures is None else measures
    ):
        if kind == "match_number":
            # SQL 1-based; NULL on the truncate sentinel (not a match)
            c = F.when(
                F.col("match_seq") >= 0, F.col("match_seq") + 1
            ).cast("long")
        elif kind == "classifier":
            # FINAL CLASSIFIER(): the variable that matched the LAST
            # row.  Under strict contiguity the variables' segments lie
            # in PATTERN order (alternation branches are disjoint, so
            # only the taken branch has captures), so the owner of the
            # last row is simply the LAST variable with a non-empty
            # capture — no order-value comparison, hence no silent
            # misattribution when order values tie across a variable
            # boundary.  The sentinel's all-NULL captures yield NULL.
            c = F.coalesce(
                *[
                    F.when(
                        F.size(F.coalesce(F.col(v), F.array())) > 0,
                        F.lit(v),
                    )
                    for v in reversed(t["pattern_vars"])
                ]
            )
        else:
            arrs = [F.coalesce(F.col(v), F.array()) for v in _members(t, var)]
            elems = arrs[0] if len(arrs) == 1 else F.concat(*arrs)
            c = _aggregate(kind, elems, col, schema)
            if kind == "count":
                # NULL, not 0, on the on_limit="truncate" sentinel row
                # (match_seq = -1): a truncated key's measures are
                # unknown.
                c = F.when(F.col("match_seq") >= 0, c)
        measure_cols.append(c.alias(alias))
    return measure_cols


def _project(out: DataFrame, t: dict, schema, orig_columns) -> DataFrame:
    """Project the kernel output to the declared MATCH_RECOGNIZE shape
    (shared by the batch and streaming surfaces — pure column algebra,
    valid on streaming DataFrames)."""
    from pyspark.sql import functions as F

    if t["rows_per_match"] == "one":
        return out.select(
            F.col(t["partition_by"]),
            F.col("match_seq"),
            *_measure_columns(t, schema),
        )

    # ALL ROWS PER MATCH: label each variable's capture array with its
    # CLASSIFIER, concatenate in PATTERN order — which is match order
    # (module docstring), so nothing is sorted — and explode: one
    # output row per matched input row.  FINAL measures project from
    # the capture arrays; RUNNING measures (the SQL:2016 default in
    # this mode) aggregate the labeled prefix up to each row — in-row
    # array algebra (filter/slice/aggregate over the already-built
    # labeled array), quadratic in MATCH length, which is bounded by
    # the pattern/within, not the partition.
    modes = t.get("measure_modes") or {
        m[3]: "final" for m in t["measures"]
    }
    final_measures = [m for m in t["measures"] if modes[m[3]] == "final"]
    running_measures = [m for m in t["measures"] if modes[m[3]] == "running"]
    measure_cols = _measure_columns(t, schema, final_measures)

    def _labeler(vname):
        # single-arity on purpose: a two-parameter lambda would make
        # F.transform pass the ARRAY INDEX as the second argument,
        # silently shadowing a `v=v` default (observed: classifier
        # became 0,1,…).
        def lab(e):
            return F.struct(F.lit(vname).alias("classifier"), e.alias("ev"))

        return lab

    labeled = F.concat(
        *[
            F.transform(F.coalesce(F.col(v), F.array()), _labeler(v))
            for v in t["pattern_vars"]
        ]
    )
    # original columns only: __mr_* navigation columns are internal
    event_cols = [c for c in orig_columns if c != t["partition_by"]]

    # SQL:2016 exclusion {- V -}: excluded variables' rows are dropped
    # from the OUTPUT only — they still matched, and they still feed
    # every measure (FINAL by construction; RUNNING because the
    # running prefix slices the UNfiltered array below).  A match whose
    # every row is excluded contributes nothing — but the truncate
    # sentinel (match_seq = -1, empty capture array) must survive, so
    # the post-explode guard keys on match_seq.
    excluded = set(t.get("excluded_vars") or [])

    def _drop_excluded(arr):
        if not excluded:
            return arr
        return F.filter(
            arr, lambda e: ~e["classifier"].isin(*sorted(excluded))
        )

    def _guard_all_excluded(df_rows):
        if not excluded:
            return df_rows
        return df_rows.filter(
            F.col("classifier").isNotNull() | (F.col("match_seq") == -1)
        )

    def _running_expr(prefix, kind, var, col):
        """One RUNNING measure over the labeled prefix (the rows mapped
        at or before the current output row, SQL RUNNING semantics)."""
        if kind == "match_number":
            # constant across the match; 1-based (outer column
            # reference inside the higher-order function is fine)
            return (F.col("match_seq") + 1).cast("long")
        if kind == "classifier":
            # RUNNING CLASSIFIER(): the current row's variable — the
            # last element of the prefix IS the current row
            return F.get(prefix, F.size(prefix) - 1)["classifier"]
        members = _members(t, var)
        elems = F.transform(
            F.filter(prefix, lambda x: x["classifier"].isin(*members)),
            lambda x: x["ev"],
        )
        return _aggregate(kind, elems, col, schema)

    rows = labeled
    if running_measures:
        # Name `labeled` once (__l), so each element's annotation slices
        # IT rather than rebuilding the concat per measure.
        out = out.select(
            F.col(t["partition_by"]),
            F.col("match_seq"),
            *measure_cols,
            labeled.alias("__l"),
        )
        measure_cols = [F.col(m[3]) for m in final_measures]
        rows = F.transform(
            F.col("__l"),
            lambda e, i: F.struct(
                e["classifier"].alias("classifier"),
                e["ev"].alias("ev"),
                *[
                    _running_expr(
                        F.slice(F.col("__l"), F.lit(1), i + F.lit(1)),
                        kind,
                        var,
                        col,
                    ).alias(alias)
                    for kind, var, col, alias in running_measures
                ],
            ),
        )
    running_aliases = {m[3] for m in running_measures}
    return _guard_all_excluded(
        out.select(
            F.col(t["partition_by"]),
            F.col("match_seq"),
            *measure_cols,
            # explode_outer, not explode: the on_limit="truncate"
            # sentinel row has every capture NULL → an EMPTY labeled
            # array — plain explode would silently drop the key's
            # truncation marker, making a partial result look complete.
            # Exclusion filters AFTER the running annotation, so
            # excluded rows still count in RUNNING prefixes.
            F.explode_outer(_drop_excluded(rows)).alias("__r"),
        )
        .select(
            F.col(t["partition_by"]),
            F.col("match_seq"),
            F.col("__r.classifier").alias("classifier"),
            *[F.col(f"__r.ev.{c}").alias(c) for c in event_cols],
            *[
                F.col(f"__r.{alias}").alias(alias)
                if alias in running_aliases
                else F.col(alias)
                for _k, _v, _c, alias in t["measures"]
            ],
        )
    )
