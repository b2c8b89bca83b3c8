"""ClickHouse SQL dialect shim: run the reference warehouse's queries here.

The reference pipeline (main.py:1-58) delivers CDC rows into ClickHouse and
its users query that warehouse in ClickHouse SQL. ``translate()`` rewrites
the practical subset of that dialect — camelCase functions, parametric
aggregates (``quantile(0.9)(x)``), ``-If``/``-OrNull``/``-State``/``-Merge``
combinators, ``PREWHERE``, ``FINAL``, ``ARRAY JOIN``, ``ANY JOIN``,
``SETTINGS``/``FORMAT`` clauses, ``LIMIT n BY`` / ``LIMIT o, n``,
``WITH TOTALS`` / ``WITH FILL``, ``SAMPLE``, bracket array literals and
1-based subscripts, tuples, the lookup ``transform``, and ``retention()`` —
into Spark SQL, and ``clickhouse_sql()`` executes the result against the
engine's tables, so existing dashboards port by string substitution instead
of a rewrite. The pass is statement-agnostic: INSERT INTO … SELECT and
CREATE VIEW bodies translate the same way (test-pinned).

Design: a token-level source-to-source pass, not a full parser. SQL clause
structure (SELECT/FROM/GROUP BY/CTEs/subqueries/window specs) is shared
between the dialects and passes through untouched; what differs is function
vocabulary and a handful of CH-only clauses, which are local token patterns:

- function calls rewrite recursively (name rules + arg-order swaps +
  templates), including parametric aggregates' double arg lists;
- ``fooIf(args, cond)`` combinators become ``foo(args) FILTER (WHERE cond)``
  (the ANSI form Spark executes natively);
- ``PREWHERE`` merges into ``WHERE`` with explicit parens (in ClickHouse it
  is an IO-ordering hint; Spark's parquet pushdown already does that job);
- ``ARRAY JOIN expr AS alias`` becomes ``LATERAL VIEW explode(...)``;
- ``FINAL`` drops: the engine's tables are materialized latest-state
  (streaming/upsert_sink.py is the ReplacingMergeTree+FINAL equivalent);
- ``SETTINGS``/``FORMAT`` drop (engine/wire concerns, not semantics).

The clause passes scan with the helpers: ``_group_end`` (past the matching
closer), ``_clause_end`` (the next depth-0 stop word or the end of the
enclosing group), ``_top_level`` (the depth-0 tokens) and ``_split_top``
(cut at depth-0 separators). ( ) and [ ] nest alike and a string literal
is one token, so every pass agrees on where a group ends; do not hand-roll
a depth loop (tests/test_depth_scan_guard.py fails on one). ``ddl.py``
slices statement text through the same tokens (``_token_matches`` spans).

External dictionaries: once declared in a ``Ddl`` (per session or per
deployment; see ``translate`` and ``register_dictionary``) the family —
``dictGet``/``dictGetOrDefault``/``dictGet<T>``/``dictHas`` — translates to
correlated scalar subqueries that Catalyst rewrites into broadcast left
joins, the same build-side hash map CH's dictionary engine keeps host-side.
Misses yield NULL (plain ``dictGet``; CH yields the attribute type's
default — use ``dictGetOrDefault`` for portable text).

``-State``/``-Merge`` combinators (the AggregatingMergeTree pattern)
translate for the two families with faithful Spark algebra: the uniq
family maps onto HLL sketches (``uniqState`` -> ``hll_sketch_agg``,
``uniqMerge`` -> ``hll_sketch_estimate(hll_union_agg(...))``,
``uniqMergeState`` -> ``hll_union_agg`` — the same associative
register-max merge), and value-state aggregates map onto themselves
(count/sum re-merge by ``sum``, min/max by ``min``/``max``).

``ASOF JOIN`` (ON form, qualified columns) translates by interval-izing
the right side — ``lead(t)`` bounds per row make the join an equi-join
with exactly one match per probe (see ``_rewrite_asof_join``).

Constructs with no faithful SQL-level mapping raise ``DialectError`` naming
the engine's native equivalent (``LIMIT n BY`` -> WindowGroupLimit pattern,
``topKWeighted`` -> x_heavy_hitters, ``windowFunnel`` -> x_window_funnel,
sumMap -> operators/mapagg.py, ASOF JOIN's USING form -> operators/asof.py,
composite-state ``quantileState`` -> store the components separately or
use queries/sketches.py) — a loud pointer beats a silent wrong answer.
``avgState``/``avgMerge`` DO translate: the state is CH's own (sum, count)
pair as a struct column, re-merged by component sums. ``topK(k)(x)`` maps to Spark's approx_top_k sketch (both
approximate heavy-hitter structures).

Documented semantic divergences (value-level, not shape-level):
- ``cityHash64``/``sipHash64`` map to ``xxhash64``: same role (stable
  64-bit hash), different values — fine for bucketing/sampling keys, not
  for cross-system hash equality.
- ``quantileExact`` maps to ``percentile`` (Spark interpolates between
  order statistics; CH picks one) — ranks differ by at most one element.
  ``quantileExactLow``/``quantileExactHigh`` ARE faithful: they map to
  ``percentile_disc`` element selection (ascending / mirrored descending).
- ``toStartOfWeek`` honors CH's Sunday-start default (mode 0/2) and the
  Monday modes (1/3); ``toWeek`` translates only its ISO mode (3) — the
  MySQL-style 0..53 numbering modes raise instead of silently shifting.
- ``anyLast``/``any`` keep their "some value" contract; which value is
  engine-dependent in both systems.
"""

from __future__ import annotations

import re
import threading
from collections.abc import Callable, Sequence
from contextvars import ContextVar
from dataclasses import dataclass, replace

__all__ = ["DialectError", "Ddl", "translate", "clickhouse_sql",
           "register_dictionary", "register_sample_key"]


class DialectError(ValueError):
    """A ClickHouse construct with no faithful SQL-level translation."""


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+|--[^\n]*|/\*.*?\*/)
    | (?P<str>'(?:[^'\\]|\\.|'')*')
    | (?P<qid>`[^`]*`|"[^"]*")
    | (?P<num>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)
    | (?P<id>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<op>->|<=|>=|!=|<>|==|\|\|)
    | (?P<p>.)
    """,
    re.X | re.S,
)


def _token_matches(sql: str) -> list[re.Match]:
    """The tokens of ``sql`` as regex matches: ``.group()`` is the token,
    ``.start()``/``.end()`` its span, so callers can slice the source text."""
    out: list[re.Match] = []
    pos = 0
    for m in _TOKEN_RE.finditer(sql):
        if m.start() != pos:  # pragma: no cover - regex is total
            raise DialectError(f"cannot tokenize at {sql[pos:pos + 20]!r}")
        pos = m.end()
        if m.lastgroup != "ws":
            out.append(m)
    return out


def _tokenize(sql: str) -> list[str]:
    return [m.group() for m in _token_matches(sql)]


# Bracket-depth scanning. Every clause pass finds a group's end, a clause's
# end or the depth-0 separators through these four helpers; ( ) and [ ]
# nest alike, and string literals are single tokens.
_CLOSERS = (")", "]")


def _top_level(toks: Sequence[str], start: int = 0):
    """Yield ``(i, tok)`` for the tokens of ``toks[start:]`` outside every
    ( ) / [ ] group opened at or after ``start``. An unmatched closer (the
    end of the group ``start`` lies in) is yielded last."""
    depth = 0
    for i in range(start, len(toks)):
        t = toks[i]
        if t == "(" or t == "[":
            depth += 1
        elif t in _CLOSERS:
            if not depth:
                yield i, t
                return
            depth -= 1
        elif not depth:
            yield i, t


def _clause_end(toks: Sequence[str], i: int, stops) -> int:
    """Index of the first token from ``i`` that is at depth 0 and whose
    upper-case form is in ``stops``, or of an unmatched closer, else
    ``len(toks)``."""
    return next(
        (j for j, t in _top_level(toks, i) if t in _CLOSERS or _u(t) in stops),
        len(toks),
    )


def _group_end(toks: Sequence[str], i: int) -> int:
    """Index just past the closer that matches the opener ``toks[i]``."""
    j = _clause_end(toks, i + 1, ())
    if j == len(toks):
        raise DialectError(
            "unbalanced parentheses" if toks[i] == "(" else
            "unbalanced [ ] brackets"
        )
    return j + 1


def _split_top(toks: Sequence[str], sep: str) -> list[list[str]]:
    """``toks`` cut at its depth-0 ``sep`` tokens (compared upper-case):
    n separators give n + 1 parts."""
    parts: list[list[str]] = []
    at = 0
    for j, t in _top_level(toks):
        if _u(t) == sep:
            parts.append(list(toks[at:j]))
            at = j + 1
    return parts + [list(toks[at:])]


def _is_ident(tok: str) -> bool:
    return bool(re.match(r"[A-Za-z_`\"]", tok))


def _u(tok: str) -> str:
    return tok.upper()


def _is_str_lit(tok: str) -> bool:
    return tok.startswith("'")


def _unquote(tok: str) -> str:
    return tok[1:-1].replace("''", "'").replace("\\'", "'")


# ---------------------------------------------------------------------------
# Clause-level passes (list surgery before the function pass)
# ---------------------------------------------------------------------------

_CLAUSE_ENDERS = {
    "GROUP", "ORDER", "LIMIT", "HAVING", "WINDOW", "UNION", "EXCEPT",
    "INTERSECT", "SETTINGS", "FORMAT",
}
_JOIN_KINDS = {"INNER", "LEFT", "RIGHT", "FULL", "OUTER", "SEMI", "ANTI", "CROSS"}


def _strip_format_settings(toks: list[str]) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if _u(t) == "SETTINGS":  # up to FORMAT or the end of its scope
            i = _clause_end(toks, i + 1, {"FORMAT"})
            continue
        if _u(t) == "FORMAT" and i + 1 < len(toks) and _is_ident(toks[i + 1]):
            i += 2
            continue
        # INTO OUTFILE '<path>' [AND STDOUT] [APPEND|TRUNCATE]
        # [COMPRESSION '<method>' [LEVEL n]] — client-side redirection;
        # formats.outfile_target(sql) recovers the path + format for the
        # Spark-writer route (formats.execute).
        if (
            _u(t) == "INTO"
            and i + 2 < len(toks)
            and _u(toks[i + 1]) == "OUTFILE"
            and toks[i + 2].startswith("'")
        ):
            i += 3
            while i < len(toks):
                u = _u(toks[i])
                if u == "AND" and i + 1 < len(toks) and _u(toks[i + 1]) == "STDOUT":
                    i += 2
                elif u in ("APPEND", "TRUNCATE"):
                    i += 1
                elif u == "COMPRESSION" and i + 1 < len(toks):
                    i += 2
                    if i + 1 < len(toks) and _u(toks[i]) == "LEVEL":
                        i += 2
                else:
                    break
            continue
        out.append(t)
        i += 1
    return out


def _rewrite_any_join(toks: list[str]) -> list[str]:
    """``ANY [LEFT|INNER] JOIN ref [AS a] USING (k…)``: CH's one-right-row-
    per-key join. Silently stripping ANY (pre-round-6 behavior) fans out
    on duplicate right keys — a silent divergence — so the right side now
    rewrites to an explicit one-row-per-key pick:
    ``(SELECT * EXCEPT (__rn) FROM (…, row_number() OVER (PARTITION BY k…
    ORDER BY k…) AS __rn FROM ref) WHERE __rn = 1)``. Among duplicate-key
    rows the pick is arbitrary — exactly CH ANY's own contract; rows that
    are identical in the selected columns stay deterministic. The ON form
    (round 8) extracts the right side's key columns from its qualified
    equality conjuncts, dedups on those, and keeps the condition verbatim;
    non-equi conjuncts and RIGHT/FULL variants (they dedup the OTHER
    side) stay loud. The right side is read by ``_capture_join_ref`` (a
    trailing ``FINAL`` is the no-op modifier, not an alias), and an
    unaliased table keeps its bare name as the dedup subquery's alias."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if _u(toks[i]) == "ANY":
            j = i + 1
            while j < len(toks) and _u(toks[j]) in _JOIN_KINDS:
                j += 1
            if j < len(toks) and _u(toks[j]) == "JOIN":
                kinds = [_u(t) for t in toks[i + 1:j]]
                if any(k in ("RIGHT", "FULL", "CROSS") for k in kinds):
                    raise DialectError(
                        "ANY RIGHT/FULL JOIN deduplicates the LEFT side — "
                        "apply a latest-by-key / LIMIT 1 BY pick to that "
                        "side explicitly"
                    )
                ref, alias, k = _capture_join_ref(toks, j + 1)
                if alias is None and ref and ref[0] != "(":
                    alias = ref[-1].strip("`\"")  # the table's bare name
                if k < len(toks) and _u(toks[k]) == "ON":
                    # ON form (round 8): extract the right side's key
                    # columns from the equality conjuncts, dedup the right
                    # side on them, keep the condition verbatim. Every
                    # conjunct must be a qualified equality with exactly
                    # one side on the right alias — the same contract the
                    # ASOF rewrite uses.
                    end = _clause_end(toks, k + 1, _ASOF_CLAUSE_END)
                    if alias is None:
                        raise DialectError(
                            "ANY JOIN ON with a subquery right side "
                            "needs an alias"
                        )
                    rn = alias.strip("`\"")
                    rkeys: list[str] = []
                    for conj in _split_top_and(toks[k + 1:end]):
                        ok = False
                        if (
                            len(conj) == 7 and conj[3] == "="
                            and conj[1] == "." and conj[5] == "."
                        ):
                            sides = [
                                (conj[0].strip("`\""), conj[2].strip("`\"")),
                                (conj[4].strip("`\""), conj[6].strip("`\"")),
                            ]
                            hits = [c for q, c in sides if q == rn]
                            if len(hits) == 1:
                                rkeys.append(hits[0])
                                ok = True
                        if not ok:
                            raise DialectError(
                                "ANY JOIN ON: every conjunct must be an "
                                f"equality between a {rn}.column and an "
                                "outer column (qualify the columns); for "
                                "other shapes deduplicate that side first "
                                "(latest-by-key upsert / LIMIT 1 BY)"
                            )
                    keylist = ", ".join(dict.fromkeys(rkeys))
                elif k < len(toks) and _u(toks[k]) == "USING":
                    if toks[k + 1] != "(":
                        raise DialectError(
                            "USING needs a parenthesized column list"
                        )
                    end = _group_end(toks, k + 1)
                    keylist = ", ".join(
                        t for t in toks[k + 2:end - 1] if t != ","
                    )
                else:
                    raise DialectError(
                        "ANY JOIN needs USING (…) or an equi ON condition "
                        "— deduplicate that side first (latest-by-key "
                        "upsert / LIMIT 1 BY) for other shapes"
                    )
                dedup = (
                    f"(SELECT * EXCEPT (__rn) FROM (SELECT *, row_number() "
                    f"OVER (PARTITION BY {keylist} ORDER BY {keylist}) AS "
                    f"__rn FROM {_join_ref_sql(ref)}) WHERE __rn = 1)"
                )
                out.extend(toks[i + 1:j + 1])  # join kind(s) + JOIN, ANY gone
                out.append(dedup)
                if alias is not None:
                    out.extend(["AS", alias])
                out.extend(toks[k:end])  # ON condition / USING (cols)
                i = end
                continue
        out.append(toks[i])
        i += 1
    return out


def _split_top_and(toks: list[str]) -> list[list[str]]:
    """Split a condition token list on top-level ANDs (outer parens
    stripped first when they wrap the whole condition)."""
    while toks and toks[0] == "(" and _group_end(toks, 0) == len(toks):
        toks = toks[1:-1]
    parts = _split_top(toks, "AND")
    return parts if parts[-1] else parts[:-1]


def _capture_join_ref(
    toks: list[str], k: int
) -> tuple[list[str], str | None, int]:
    """Capture a join-side reference at ``toks[k]`` — a parenthesized
    subquery or a dotted identifier chain — plus an optional alias
    (``AS a`` / bare ``a``; a trailing ``FINAL`` is consumed as the no-op
    modifier, not an alias). Returns (ref_tokens, alias, next_index)."""
    ref: list[str] = []
    if k < len(toks) and toks[k] == "(":
        end = _group_end(toks, k)
        ref, k = toks[k:end], end
    elif (
        k < len(toks)
        and _is_ident(toks[k])
        and _u(toks[k]) not in ("AS", "USING", "ON", "FINAL")
    ):
        ref.append(toks[k])
        k += 1
        while k + 1 < len(toks) and toks[k] == "." and _is_ident(toks[k + 1]):
            ref.extend([toks[k], toks[k + 1]])
            k += 2
    if k < len(toks) and _u(toks[k]) == "FINAL":
        k += 1
    alias: str | None = None
    if k < len(toks) and _u(toks[k]) == "AS":
        alias = toks[k + 1]
        k += 2
    elif (
        k < len(toks)
        and _is_ident(toks[k])
        and _u(toks[k]) not in ("USING", "ON", "FINAL")
    ):
        alias = toks[k]
        k += 1
    if k < len(toks) and _u(toks[k]) == "FINAL":
        k += 1
    return ref, alias, k


def _join_ref_sql(ref: list[str]) -> str:
    """A captured join side as SQL. A subquery may itself use any CH
    construct (PREWHERE, subscripts, FINAL, LIMIT BY, …), so it runs the
    FULL translation; the result re-enters the token stream as one opaque
    token that later passes leave alone."""
    if ref[:1] == ["("]:
        return "(" + translate(_render(ref[1:-1])) + ")"
    return _render(ref)


# Tokens that end a JOIN's ON clause at depth 0.
_ASOF_CLAUSE_END = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION", "INTERSECT",
    "EXCEPT", "SETTINGS", "FORMAT", "WINDOW", "INNER", "LEFT", "RIGHT",
    "FULL", "CROSS", "JOIN", "ANY", "ASOF", "GLOBAL", "SEMI", "ANTI",
    # Clause heads the pipeline translates elsewhere: without these the ON
    # capture would swallow e.g. a trailing PREWHERE into the condition.
    "PREWHERE", "WITH",
}

_ASOF_FLIP = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}
# Interval-upper-bound check per (normalized) asof operator.
_ASOF_BOUND = {">=": "<", ">": "<=", "<=": ">", "<": ">="}


def _rewrite_asof_join(toks: list[str]) -> list[str]:
    """``a ASOF [LEFT|INNER] JOIN b ON a.k = b.k AND a.t >= b.t`` — CH's
    closest-match temporal join — rewritten by INTERVAL-IZING the right
    side: each right row gains ``__asof_end = lead(t)`` over (keys, order
    t), after collapsing duplicate (keys, t) rows, so the match condition
    ``a.t >= b.t AND (b.__asof_end IS NULL OR a.t < b.__asof_end)`` selects
    EXACTLY ONE right row per probe. The join stays at the same syntactic
    level (outer column references keep resolving), and the plan is an
    equi-join on the keys with two residual comparisons — no fan-out, no
    per-probe window, no all-pairs. All four asof operators translate
    (>= / > pick the latest earlier row, <= / < the earliest later row,
    via a DESC lead). Scale: the lead/lag pair shares ONE (keys) exchange
    + sort on the right side only — the probe side never shuffles beyond
    the join itself; this is strictly cheaper than CH's per-key sorted
    array build because it streams.

    Contract kept loud: the ON form with qualified ``alias.column``
    references is required (USING's merged-column form and unqualified
    names raise, naming the fix); ``SELECT *`` outputs include the helper
    ``__asof_end`` column — project explicitly (CH users typically do).
    Reference: the ClickHouse ASOF JOIN the warehouse half provisions;
    operators/asof.py is the DataFrame-level equivalent."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if _u(toks[i]) == "ASOF":
            j = i + 1
            while j < len(toks) and _u(toks[j]) in _JOIN_KINDS:
                j += 1
            if j < len(toks) and _u(toks[j]) == "JOIN":
                kinds = [_u(t) for t in toks[i + 1:j]]
                if any(kk not in ("LEFT", "INNER") for kk in kinds):
                    raise DialectError(
                        "ASOF JOIN translates for the LEFT/INNER forms only"
                    )
                ref, alias, k = _capture_join_ref(toks, j + 1)
                if not ref:
                    raise DialectError("ASOF JOIN: cannot parse the right side")
                if k < len(toks) and _u(toks[k]) == "USING":
                    raise DialectError(
                        "ASOF JOIN … USING merges columns implicitly — "
                        "write the ON form (a.k = b.k AND a.t >= b.t) or "
                        "use operators/asof.py"
                    )
                if k >= len(toks) or _u(toks[k]) != "ON":
                    raise DialectError("ASOF JOIN needs an ON condition")
                if alias is None:
                    if ref[-1] == ")":
                        raise DialectError(
                            "ASOF JOIN: alias the subquery right side"
                        )
                    alias = ref[-1]
                m = _clause_end(toks, k + 1, _ASOF_CLAUSE_END)
                cond = toks[k + 1:m]

                def b_col(side: list[str]) -> str | None:
                    if (
                        len(side) == 3 and side[0] == alias
                        and side[1] == "." and _is_ident(side[2])
                    ):
                        return side[2]
                    return None

                eqs: list[list[str]] = []
                ineq: list[str] | None = None
                for c in _split_top_and(cond):
                    ops = [t for t in c if t in _ASOF_FLIP]
                    if ops:
                        if ineq is not None or len(ops) != 1:
                            raise DialectError(
                                "ASOF JOIN needs exactly one inequality "
                                "conjunct"
                            )
                        ineq = c
                    else:
                        eqs.append(c)
                if ineq is None or not eqs:
                    raise DialectError(
                        "ASOF JOIN needs at least one equality conjunct "
                        "and exactly one inequality (a.k = b.k AND "
                        "a.t >= b.t)"
                    )
                op_at = next(
                    x for x, t in enumerate(ineq) if t in _ASOF_FLIP
                )
                lhs, op, rhs = ineq[:op_at], ineq[op_at], ineq[op_at + 1:]
                if b_col(rhs) is not None:
                    probe, tcol = lhs, b_col(rhs)
                elif b_col(lhs) is not None:
                    probe, tcol = rhs, b_col(lhs)
                    op = _ASOF_FLIP[op]
                else:
                    raise DialectError(
                        "ASOF JOIN: one side of the inequality must be a "
                        f"plain {alias}.<column> — qualify the columns"
                    )
                keys: list[str] = []
                for c in eqs:
                    eq_at = [x for x, t in enumerate(c) if t == "="]
                    if len(eq_at) != 1:
                        raise DialectError(
                            "ASOF JOIN: equality conjuncts must be simple "
                            "<expr> = <expr>"
                        )
                    col = b_col(c[:eq_at[0]]) or b_col(c[eq_at[0] + 1:])
                    if col is None:
                        raise DialectError(
                            "ASOF JOIN: each equality must reference a "
                            f"plain {alias}.<column> — qualify the columns"
                        )
                    keys.append(col)
                order = tcol + (" DESC" if op in ("<=", "<") else "")
                w = f"OVER (PARTITION BY {', '.join(keys)} ORDER BY {order})"
                derived = (
                    f"(SELECT * EXCEPT (__prev), lead({tcol}) {w} "
                    f"AS __asof_end FROM (SELECT *, lag({tcol}) {w} "
                    f"AS __prev FROM {_join_ref_sql(ref)}) "
                    f"WHERE NOT (__prev <=> {tcol}))"
                )
                out.extend(toks[i + 1:j + 1])  # join kind(s) + JOIN
                out.append(derived)
                out.extend(["AS", alias, "ON"])
                for c in eqs:
                    out.extend(c)
                    out.append("AND")
                out.extend([*probe, op, alias, ".", tcol, "AND", "(",
                            alias, ".", "__asof_end", "IS", "NULL", "OR",
                            *probe, _ASOF_BOUND[op], alias, ".",
                            "__asof_end", ")"])
                i = m
                continue
        out.append(toks[i])
        i += 1
    return out


def _strip_final_and_join_mods(toks: list[str]) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(toks):
        t, u = toks[i], _u(toks[i])
        if u == "FINAL" and out and out[-1] != "." and (
            (_is_ident(out[-1]) and _u(out[-1]) not in _KEYWORDS_NOT_CALLS)
            or out[-1] == ")"
        ):
            i += 1
            continue
        if u in ("GLOBAL", "ALL", "ASOF"):  # ANY/ASOF rewritten earlier
            j = i + 1
            while j < len(toks) and _u(toks[j]) in _JOIN_KINDS:
                j += 1
            if j < len(toks) and _u(toks[j]) == "JOIN":
                if u == "ASOF":  # only forms _rewrite_asof_join skipped
                    raise DialectError(
                        "this ASOF JOIN form has no SQL-level mapping — "
                        "write ON with qualified columns (handled by the "
                        "interval-izing rewrite) or use operators/asof.py"
                    )
                i += 1
                continue
        if u == "GLOBAL" and i + 1 < len(toks) and _u(toks[i + 1]) in ("IN", "NOT"):
            # GLOBAL IN / GLOBAL NOT IN: the distribution hint is a no-op
            # here — Spark plans subquery IN itself.
            i += 1
            continue
        out.append(t)
        i += 1
    return out


_NUM_RE = re.compile(r"^(\d+\.\d*|\.\d+|\d+)$")


def _pop_primary(out: list[str]) -> list[str]:
    """Pop the trailing primary expression (a balanced call/paren group with
    its function name, or a dotted identifier chain) off ``out``."""
    def name_at(k: int) -> bool:
        return k >= 0 and _is_ident(out[k]) and _u(out[k]) not in _KEYWORDS_NOT_CALLS

    start = len(out)
    if out and out[-1] == ")":
        start = next((s for s in reversed(range(start)) if out[s] == "("
                      and _group_end(out, s) == len(out)), 0)
        start -= name_at(start - 1)
    else:
        while name_at(start - 1):
            start -= 1
            if not start or out[start - 1] != ".":
                break
            start -= 1
    if start == len(out):
        raise DialectError("subscript [..] with no preceding expression")
    toks = out[start:]
    del out[start:]
    return toks


def _rewrite_brackets(toks: list[str]) -> list[str]:
    """CH bracket syntax → Spark calls.

    ``[a, b]`` array literals become ``array(a, b)`` (Spark has no bare
    bracket literal). ``expr[i]`` subscripts become ``try_element_at(expr,
    i)`` — 1-based and negative-from-end like CH's arrayElement, NULL out of
    range (CH yields the type default for non-Nullable elements; NULL is
    this shim's documented convention, same as WITH FILL / WITH TOTALS)."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t == "[":
            j = _group_end(toks, i)
            inner = _rewrite_brackets(toks[i + 1:j - 1])
            is_subscript = bool(out) and (
                out[-1] == ")"
                or (_is_ident(out[-1]) and _u(out[-1]) not in _KEYWORDS_NOT_CALLS)
            )
            if is_subscript:
                primary = _pop_primary(out)
                out.extend(["try_element_at", "(", *primary, ",", *inner, ")"])
            elif out and _u(out[-1]) == "IN":
                # CH allows IN <array literal>; Spark wants a plain IN list.
                out.extend(["(", *inner, ")"])
            else:
                out.extend(["array", "(", *inner, ")"])
            i = j
            continue
        out.append(t)
        i += 1
    return out


_SAMPLE_L = 1_000_000  # hash-space granularity for OFFSET subranges


def _rewrite_sample(toks: list[str]) -> list[str]:
    """``FROM t SAMPLE k`` → ``FROM t TABLESAMPLE (…)``: fractional k
    (``0.1``, ``1/10``, and the whole-table/empty literals ``1``/``0`` —
    CH reads dot-free 0 and 1 as FRACTIONS, not row counts) becomes a
    PERCENT sample; an integer k > 1 a ROWS sample. Role-equivalent, not
    row-identical — CH samples deterministically by the table's declared
    sample key, Spark TABLESAMPLE is seeded-random per scan (documented
    divergence). ``SAMPLE a/b OFFSET c/d`` (round 8) IS deterministic —
    like CH it needs the table's SAMPLE BY key, taken from the ``Ddl`` the
    translation runs under (a deployment's or a session's): the
    table rewrites to a subquery keeping rows whose key hash lands in
    [c/d, c/d + a/b) of a 10^6-slot space, compared in exact integer
    arithmetic — disjoint OFFSET ranges partition the table exactly as
    CH's contract promises, and repeated queries see the same rows."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            _u(t) == "SAMPLE"
            and out
            and (_is_ident(out[-1]) or out[-1] == ")")
            and i + 1 < len(toks)
            and _NUM_RE.match(toks[i + 1])
            and any(_u(p) == "FROM" for p in out)
        ):
            k = toks[i + 1]
            nxt = i + 2
            frac: float | None = None
            if (
                nxt + 1 < len(toks)
                and toks[nxt] == "/"
                and _NUM_RE.match(toks[nxt + 1])
            ):
                den = float(toks[nxt + 1])
                if den == 0:
                    raise DialectError(f"SAMPLE {k}/{toks[nxt + 1]}: zero denominator")
                frac = float(k) / den
                nxt += 2
            elif "." in k or k in ("0", "1"):
                frac = float(k)
            if nxt < len(toks) and _u(toks[nxt]) == "OFFSET":
                from fractions import Fraction

                if frac is None:
                    raise DialectError(
                        "SAMPLE n OFFSET: the offset form needs a "
                        "FRACTIONAL sample (a/b or decimal), not a row "
                        "count"
                    )
                # re-derive the sample fraction exactly (float frac is
                # for the TABLESAMPLE path only)
                if toks[i + 2] == "/":
                    samp = Fraction(int(k), int(toks[i + 3]))
                else:
                    samp = Fraction(k)
                onxt = nxt + 1
                if onxt >= len(toks) or not _NUM_RE.match(toks[onxt]):
                    raise DialectError("SAMPLE … OFFSET needs a fraction")
                if (
                    onxt + 2 < len(toks) and toks[onxt + 1] == "/"
                    and _NUM_RE.match(toks[onxt + 2])
                ):
                    if int(toks[onxt + 2]) == 0:
                        raise DialectError("OFFSET fraction: zero denominator")
                    off = Fraction(int(toks[onxt]), int(toks[onxt + 2]))
                    onxt += 3
                else:
                    off = Fraction(toks[onxt])
                    onxt += 1
                if not (0 <= off <= 1 and 0 <= off + samp <= 1):
                    raise DialectError(
                        "SAMPLE … OFFSET: the [offset, offset + fraction) "
                        "range must stay inside [0, 1]"
                    )
                # locate the sampled table ref (walk back over the alias,
                # then the dotted name)
                at = len(out)
                if at >= 2 and _u(out[-2]) == "AS" and _is_ident(out[-1]):
                    at -= 2
                elif (
                    at >= 3
                    and _is_ident(out[-1]) and _is_ident(out[-2])
                    and out[-3] != "."
                    and _u(out[-1]) not in _KEYWORDS_NOT_CALLS
                    and _u(out[-2]) not in _KEYWORDS_NOT_CALLS
                ):
                    at -= 1
                if at == 0 or not _is_ident(out[at - 1]):
                    raise DialectError(
                        "SAMPLE … OFFSET applies to a named table (its "
                        "SAMPLE BY key must be registered)"
                    )
                tstart = at - 1
                while (
                    tstart >= 2 and out[tstart - 1] == "."
                    and _is_ident(out[tstart - 2])
                ):
                    tstart -= 2
                bare = out[at - 1].strip("`\"")
                key_expr = dict(_DDL.get().sample_keys).get(bare)
                if key_expr is None:
                    raise DialectError(
                        f"SAMPLE … OFFSET on {bare!r}: no SAMPLE BY key "
                        "registered — declare it in the translation's Ddl "
                        "(Deployment.ddl / register_sample_key(spark, …)) "
                        "(x_hash_split / x_det_sample are the query-level "
                        "alternatives)"
                    )
                table_sql = _render(out[tstart:at])
                h = f"pmod(cast({key_expr} as bigint), {_SAMPLE_L})"
                hi = off + samp
                cond = (
                    f"{h} * {off.denominator} >= {off.numerator * _SAMPLE_L}"
                    f" AND {h} * {hi.denominator} < "
                    f"{hi.numerator * _SAMPLE_L}"
                )
                sub = _tokenize(
                    f"(SELECT * FROM {table_sql} WHERE {cond})"
                )
                had_alias = at < len(out)
                out[tstart:at] = sub
                if not had_alias:
                    out.extend(["AS", bare])
                i = onxt
                continue
            if frac is not None:
                pct = frac * 100
                if not 0 <= pct <= 100:
                    raise DialectError(f"SAMPLE fraction {frac!r} out of [0, 1]")
                ts = ["TABLESAMPLE", "(", f"{pct:g}", "PERCENT", ")"]
            else:
                ts = ["TABLESAMPLE", "(", k, "ROWS", ")"]
            # Spark grammar: TABLESAMPLE comes BEFORE the table alias —
            # CH puts SAMPLE after it, so hop back over `AS a` / bare `a`.
            at = len(out)
            if at >= 2 and _u(out[-2]) == "AS" and _is_ident(out[-1]):
                at -= 2
            elif (
                at >= 3
                and _is_ident(out[-1]) and _is_ident(out[-2])
                and out[-3] != "."
                and _u(out[-1]) not in _KEYWORDS_NOT_CALLS
                and _u(out[-2]) not in _KEYWORDS_NOT_CALLS
            ):
                at -= 1
            out[at:at] = ts
            i = nxt
            continue
        out.append(t)
        i += 1
    return out


def _rewrite_qualify(toks: list[str]) -> list[str]:
    """Top-level ``QUALIFY pred`` (a CH clause since 23.x; Spark has no
    QUALIFY) — the predicate (window functions included) becomes a hidden
    boolean column on the select, the query wraps, and the filter runs
    outside: ``SELECT * EXCEPT (__qual) FROM (SELECT …, (pred) AS __qual
    FROM …) WHERE __qual [ORDER BY …]``. ORDER BY after QUALIFY stays
    outside (subquery columns remain in scope). SELECT DISTINCT with
    QUALIFY raises — the hidden column would change the distinct set."""
    q_at = next((i for i, t in _top_level(toks) if _u(t) == "QUALIFY"), None)
    if q_at is None:
        return toks
    # Only a depth-0 DISTINCT immediately after a depth-0 SELECT is a
    # SELECT DISTINCT; count(DISTINCT x) in the select list or a DISTINCT
    # inside a FROM-subquery must not trip the guard.
    if any(
        _u(t) == "DISTINCT" and i >= 1 and _u(toks[i - 1]) == "SELECT"
        for i, t in _top_level(toks[:q_at])
    ):
        raise DialectError(
            "QUALIFY with SELECT DISTINCT isn't rewritten — filter in "
            "a subquery, then apply DISTINCT outside"
        )
    # predicate runs to the next top-level clause
    pred_end = _clause_end(toks, q_at + 1, _CLAUSE_ENDERS)
    pred = toks[q_at + 1:pred_end]
    if not pred:
        raise DialectError("QUALIFY needs a predicate")
    tail = toks[pred_end:]
    body = toks[:q_at]
    # splice the hidden column before the main select's depth-0 FROM
    from_at = next((i for i, t in _top_level(body) if _u(t) == "FROM"), None)
    if from_at is None:
        raise DialectError("QUALIFY without a FROM clause")
    inner = (
        body[:from_at]
        + [",", "(", *pred, ")", "AS", "__qual"]
        + body[from_at:]
    )
    return [
        "SELECT", "*", "EXCEPT", "(", "__qual", ")", "FROM",
        "(", *inner, ")", "WHERE", "__qual", *tail,
    ]


_LIMIT_BY_STOP = _CLAUSE_ENDERS | {"SELECT", "BY"}


def _rewrite_limit_by(toks: list[str]) -> list[str]:
    """Top-level ``[ORDER BY o] LIMIT [o,] n BY k [LIMIT m]`` -> a
    row_number window wrapper: pick rows (o, o+n] per distinct k in the o
    order (offset form since round 8).

    Spark plans the ``row_number() <= n`` filter as a WindowGroupLimit (the
    per-group heap pushes into the shuffle), so the translated query keeps
    ClickHouse's own execution shape. Nested (subquery) LIMIT BY raises —
    wrapping an inner scope is ambiguous token surgery."""
    for limit_at, t in enumerate(toks):
        if _u(t) == "LIMIT":
            by_at = _clause_end(toks, limit_at + 1, _LIMIT_BY_STOP)
            if by_at < len(toks) and _u(toks[by_at]) == "BY":
                break
    else:
        return toks
    top = dict(_top_level(toks))
    if limit_at not in top:
        raise DialectError(
            "LIMIT n BY inside a subquery isn't rewritten — hoist it or use "
            "the row_number()<=n window pattern (see w_topk_per_group)"
        )
    if any(_u(t) in ("UNION", "INTERSECT", "EXCEPT") for t in top.values()):
        raise DialectError(
            "LIMIT n BY over a set operation isn't rewritten — wrap the "
            "compound in a subquery and apply row_number()<=n outside"
        )
    n_toks = toks[limit_at + 1:by_at]
    off_toks: list[str] | None = None
    if "," in n_toks:
        # CH ``LIMIT o, n BY k``: skip the first o rows per key, keep the
        # next n — rn spans (o, o + n] (round 8; was loud before).
        ci = n_toks.index(",")
        off_toks, n_toks = n_toks[:ci], n_toks[ci + 1:]
        if not off_toks or not n_toks or "," in n_toks:
            raise DialectError("LIMIT o, n BY takes exactly two counts")
    # ORDER BY clause immediately preceding the LIMIT (CH clause order)
    order_at = max(
        (i for i, t in top.items()
         if i < limit_at and _u(t) == "ORDER" and _u(toks[i + 1]) == "BY"),
        default=None,
    )
    # keys run to the next top-level clause (e.g. a trailing global LIMIT)
    key_end = _clause_end(toks, by_at + 1, _CLAUSE_ENDERS)
    keys = toks[by_at + 1:key_end]
    trailing = toks[key_end:]
    if order_at is not None:
        pre = toks[:order_at]
        order = toks[order_at + 2:limit_at]
    else:
        pre = toks[:limit_at]
        order = keys
    out = [
        "SELECT", "*", "EXCEPT", "(", "__rn", ")", "FROM", "(",
        "SELECT", "__q", ".", "*", ",", "row_number", "(", ")",
        "OVER", "(", "PARTITION", "BY", *keys, "ORDER", "BY", *order, ")",
        "AS", "__rn", "FROM", "(", *pre, ")", "AS", "__q", ")",
        "WHERE", "__rn", "<=", *n_toks,
    ]
    if off_toks is not None:
        out[-(2 + len(n_toks)):] = [
            "__rn", ">", *off_toks, "AND", "__rn", "<=", "(",
            *off_toks, ")", "+", "(", *n_toks, ")",
        ]
    if order_at is not None:
        out += ["ORDER", "BY", *order]
    out += trailing
    return out


def _rewrite_limit_offset(toks: list[str]) -> list[str]:
    """CH ``LIMIT offset, count`` → Spark ``LIMIT count OFFSET offset``.
    Runs after the LIMIT-BY pass, which already rejects the combined
    ``LIMIT o, n BY k`` form."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (
            _u(toks[i]) == "LIMIT"
            and i + 3 < len(toks)
            and _NUM_RE.match(toks[i + 1])
            and toks[i + 2] == ","
            and _NUM_RE.match(toks[i + 3])
        ):
            out.extend(["LIMIT", toks[i + 3], "OFFSET", toks[i + 1]])
            i += 4
            continue
        out.append(toks[i])
        i += 1
    return out


def _merge_prewhere(toks: list[str]) -> list[str]:
    """``PREWHERE a [WHERE b]`` -> ``WHERE (a) AND (b)`` per scope."""
    i = 0
    while i < len(toks):
        if _u(toks[i]) != "PREWHERE":
            i += 1
            continue
        j = _clause_end(toks, i + 1, _CLAUSE_ENDERS | {"WHERE"})
        pre = toks[i + 1:j]
        if j < len(toks) and _u(toks[j]) == "WHERE":
            wend = _clause_end(toks, j + 1, _CLAUSE_ENDERS)
            cond = toks[j + 1:wend]
            toks = (
                toks[:i]
                + ["WHERE", "(", *pre, ")", "AND", "(", *cond, ")"]
                + toks[wend:]
            )
        else:
            toks = toks[:i] + ["WHERE", "(", *pre, ")"] + toks[j:]
        i += 1
    return toks


_ALIAS_CLAUSE_END = {
    "GROUP", "ORDER", "LIMIT", "SETTINGS", "QUALIFY", "WINDOW", "UNION",
    "INTERSECT", "EXCEPT", "FORMAT", "INTO", "HAVING", "WHERE", "PREWHERE",
}


def _rewrite_where_aliases(toks: list[str]) -> list[str]:
    """ClickHouse resolves SELECT-list aliases inside WHERE / PREWHERE /
    HAVING (alias wins over a same-named column under the default
    ``prefer_column_name_to_alias = 0``); Spark does not. Reproduce CH's
    semantics by textual inlining: within each SELECT's own filter
    clauses, a bare reference to ``expr AS name`` becomes ``(expr)`` —
    exactly CH's resolution, including the shadowing case (``round(v) AS
    v … WHERE v > 0`` filters on the rounded value, and the ``v`` inside
    the inlined expression still reads the column). Chained aliases
    resolve left to right, as in CH. GROUP BY / ORDER BY references pass
    through untouched — Spark resolves those natively."""
    out = list(toks)
    i = 0
    while i < len(out):
        if _u(out[i]) != "SELECT":
            i += 1
            continue
        # the select list runs to this SELECT's depth-0 FROM; a closer
        # first means this SELECT was a subquery without one
        j = i + 1
        if j < len(out) and _u(out[j]) == "DISTINCT":
            j += 1
        from_at = _clause_end(out, j, {"FROM"})
        if from_at == len(out) or _u(out[from_at]) != "FROM":
            i = from_at + 1
            continue
        # alias -> expr tokens (AS-form only), chained aliases resolved
        aliases: dict[str, list[str]] = {}
        for item in _split_top(out[j:from_at], ","):
            as_at = max(
                (k for k, t in _top_level(item)
                 if _u(t) == "AS" and k + 1 < len(item)),
                default=None,
            )
            if as_at is None or as_at + 1 != len(item) - 1:
                continue
            name = item[as_at + 1]
            if not _is_ident(name):
                continue
            expr = item[:as_at]
            if not expr:
                continue
            resolved: list[str] = []
            for t in expr:
                if t in aliases:
                    resolved.extend(["(", *aliases[t], ")"])
                else:
                    resolved.append(t)
            aliases[name] = resolved
        if not aliases:
            i = from_at + 1
            continue
        # walk this SELECT's tail, which ends at the scope's closer or a
        # depth-0 set operator (the next branch resolves its own names);
        # substitute inside WHERE/PREWHERE/HAVING segments. Clause keywords
        # count at relative depth 0 only; plain grouping parens stay
        # substitutable, a SUBQUERY group (first token SELECT) resolves its
        # own names (its SELECT gets its own pass).
        top = {k for k, _ in _top_level(out, from_at + 1)}
        end = _clause_end(out, from_at + 1, {"UNION", "INTERSECT", "EXCEPT"})
        in_filter = False
        hits: list[int] = []
        j = from_at + 1
        while j < end:
            t = out[j]
            if t == "(" and j + 1 < len(out) and _u(out[j + 1]) == "SELECT":
                j = _group_end(out, j)
                continue
            if j in top:
                u = _u(t)
                if u in ("WHERE", "PREWHERE", "HAVING"):
                    in_filter = True
                    j += 1
                    continue
                if u in _ALIAS_CLAUSE_END or u == "SELECT":
                    in_filter = False
            nxt = out[j + 1] if j + 1 < len(out) else ""
            if (
                in_filter and t in aliases and out[j - 1] != "."
                and nxt != "(" and _u(out[j - 1]) != "AS"
            ):
                hits.append(j)
            j += 1
        for j in reversed(hits):
            out[j:j + 1] = ["(", *aliases[out[j]], ")"]
        i = from_at + 1
    return out


def _rewrite_scalar_with(toks: list[str]) -> list[str]:
    """ClickHouse's reversed WITH: ``WITH <expr> AS name[, ...] SELECT ...``
    binds named scalar constants (the opposite arg order from a standard
    CTE). Rewritten by inline substitution: each later bare reference to
    ``name`` becomes ``(expr)``. Standard CTEs (``WITH name AS (SELECT``)
    pass through untouched; the two forms are distinguished by what
    follows the AS — an identifier (scalar form) vs ``(`` (CTE form)."""
    i = 0
    while i < len(toks):
        if _u(toks[i]) != "WITH":
            i += 1
            continue
        # parse comma-separated `expr AS name` entries up to the depth-0
        # SELECT; bail to CTE handling if any entry has `name AS (`
        end = _clause_end(toks, i + 1, {"SELECT"})
        entries: list[tuple[list[str], str]] = []
        for e in _split_top(toks[i + 1:end], ","):
            as_at = [k for k, t in _top_level(e) if _u(t) == "AS"]
            if as_at != [len(e) - 2] or len(e) < 3 or not _is_ident(e[-1]):
                entries = []
                break
            entries.append((e[:-2], e[-1]))
        if end == len(toks) or _u(toks[end]) != "SELECT" or not entries:
            i += 1
            continue
        # substitute: every later bare reference to a name -> ( expr )
        subs = {n: ["(", *e, ")"] for e, n in entries}
        out = toks[:i]
        k = end
        while k < len(toks):
            t = toks[k]
            if (
                t in subs
                and (k + 1 >= len(toks) or toks[k + 1] != "(")
                and (k == 0 or toks[k - 1] != ".")
                and (k + 1 >= len(toks) or toks[k + 1] != ".")
            ):
                out.extend(subs[t])
            else:
                out.append(t)
            k += 1
        toks = out
        i += 1
    return toks


_FILL_STOP = {"FROM", "TO", "STEP", "LIMIT", "INTERPOLATE"}


_RECURRENCE_KEYWORDS = {
    "CASE", "WHEN", "THEN", "ELSE", "END", "AND", "OR", "NOT", "IS",
    "NULL", "TRUE", "FALSE", "IN", "BETWEEN", "LIKE", "CAST", "AS",
    "INTERVAL", "INT", "INTEGER", "BIGINT", "SMALLINT", "TINYINT",
    "FLOAT", "DOUBLE", "DECIMAL", "STRING", "BOOLEAN", "DATE",
    "TIMESTAMP", "LONG", "SECOND", "MINUTE", "HOUR", "DAY", "WEEK",
    "MONTH", "QUARTER", "YEAR",
}


def _check_recurrence_refs(col: str, expr: list[str]) -> None:
    """An INTERPOLATE recurrence may reference only the interpolated
    column itself — any other column would read the JOINED current row
    (NULL on every inserted row), a silently wrong answer."""
    for j, t in enumerate(expr):
        if t == col or not _is_ident(t):
            continue
        if j + 1 < len(expr) and expr[j + 1] == "(":
            continue  # function call
        if _u(t) in _RECURRENCE_KEYWORDS:
            continue
        raise DialectError(
            f"INTERPOLATE ({col} AS expr): the recurrence may reference "
            f"only {col!r} (got {t!r}) — each inserted row applies expr "
            "to the PREVIOUS row's value; other columns are not carried "
            "across gaps"
        )


def _parse_order_fill_list(
    toks: list[str], order_at: int
) -> tuple[list[tuple[list[str], str | None, dict | None]], int]:
    """Parse a depth-0 ``ORDER BY`` list containing WITH FILL entries into
    ``(head_tokens, 'ASC'/'DESC'/None, fill_bounds|None)`` triples plus
    the index just past the list (at INTERPOLATE / LIMIT / end). FROM/TO/
    STEP belong to the preceding WITH FILL, so only LIMIT / INTERPOLATE /
    a closing paren end the list."""
    i = _clause_end(toks, order_at + 2, {"LIMIT", "INTERPOLATE", "UNION",
                                         "INTERSECT", "EXCEPT"})
    entries = []
    for item in _split_top(toks[order_at + 2:i], ","):
        if not item:
            raise DialectError("empty ORDER BY entry")
        fill_pos = next(
            (j for j, t in _top_level(item) if _u(t) == "WITH"
             and j + 1 < len(item) and _u(item[j + 1]) == "FILL"),
            None,
        )
        head = item[:fill_pos] if fill_pos is not None else list(item)
        dirn = None
        if head and _u(head[-1]) in ("ASC", "DESC"):
            dirn = _u(head[-1])
            head = head[:-1]
        if not head:
            raise DialectError("ORDER BY entry needs an expression")
        fill: dict | None = None
        if fill_pos is not None:
            fill = {}
            j = fill_pos + 2
            while j < len(item) and _u(item[j]) in ("FROM", "TO", "STEP"):
                kw = _u(item[j])
                end = _clause_end(item, j + 1, ("FROM", "TO", "STEP"))
                run, j = item[j + 1:end], end
                if not run:
                    raise DialectError(f"WITH FILL {kw} needs an expression")
                fill[kw] = run
            if j != len(item):
                raise DialectError(
                    "unparsed tokens after WITH FILL bounds: "
                    + " ".join(item[j:])
                )
            if ("FROM" in fill) != ("TO" in fill):
                raise DialectError(
                    "WITH FILL needs both FROM and TO (or neither, to "
                    "span the data's own min..max)"
                )
        entries.append((head, dirn, fill))
    return entries, i


def _fill_key_spine(
    k: str, fill: dict, desc: bool, body: list[str]
) -> list[str]:
    """One fill key's value spine: the bounded [FROM, TO) sequence, or the
    data's own min..max when unbounded (reversed for DESC)."""
    step = fill.get("STEP", ["-1" if desc else "1"])
    if "FROM" in fill:
        bound_op = ">" if desc else "<"
        return [
            "SELECT", k, "FROM", "(", "SELECT", "explode", "(", "sequence",
            "(", *fill["FROM"], ",", *fill["TO"], ",", *step, ")", ")",
            "AS", k, ")", "WHERE", k, bound_op, *fill["TO"],
        ]
    lo = ["min", "(", k, ")"]
    hi = ["max", "(", k, ")"]
    first, second = (hi, lo) if desc else (lo, hi)
    return [
        "SELECT", "explode", "(", "sequence", "(", *first, ",", *second,
        ",", *step, ")", ")", "AS", k, "FROM", "(", *body, ")",
    ]


def _rewrite_with_fill_composed(
    toks: list[str],
    order_at: int,
    entries: list,
    list_end: int,
) -> list[str]:
    """Round 12 (r11 verdict item 6): multi-column and expression WITH
    FILL keys — the single-key spine + FULL OUTER JOIN machinery extended
    to a COMPOSED spine.

    Shapes (conventions documented like the single-key form's NULL rows):

    - Leading NON-FILL keys act as GROUPS: the spine is the distinct
      group tuples × the fill key's sequence — per-series gap fill, the
      warehouse pattern. Unbounded bounds derive PER GROUP (min..max of
      the key within each group) when there is a single fill key.
    - MULTIPLE fill keys form a GRID: the cross product of each key's
      spine (explicit [FROM, TO) or the data's global min..max). With
      groups present, every fill key needs explicit FROM/TO (a per-group
      multi-key grid is ambiguous; loud).
    - EXPRESSION fill keys materialize as a hidden column on the body,
      drive the spine/join, and are dropped from the output (CH surfaces
      only selected columns); not combinable with INTERPOLATE (loud).
    - INTERPOLATE (col, …) carries the last ORIGINAL row's value forward
      per group (LOCF window partitioned by the group keys). The
      `col AS expr` recurrence stays single-key/no-group (loud here).

    Original rows are always kept (FULL OUTER JOIN); inserted rows carry
    NULL non-fill columns — the shim's documented convention."""
    fills = [(i, e) for i, e in enumerate(entries) if e[2] is not None]
    groups = [(i, e) for i, e in enumerate(entries) if e[2] is None]
    if not fills:
        return toks
    if any(i > fills[0][0] for i, _ in groups):
        raise DialectError(
            "WITH FILL keys must be the TRAILING sort keys (a non-fill "
            "key after a fill key would order inserted NULL rows)"
        )
    for i, (head, _d, _f) in groups:
        if len(head) != 1 or not _is_ident(head[0]):
            raise DialectError(
                "non-fill sort keys before WITH FILL must be plain "
                "columns (they become the fill grouping)"
            )
    if groups and len(fills) > 1:
        for _i, (_h, _d, f) in fills:
            if "FROM" not in f:
                raise DialectError(
                    "grouped multi-key WITH FILL needs explicit FROM/TO "
                    "on every fill key (per-group grid bounds are "
                    "ambiguous)"
                )
    body = toks[:order_at]
    tail = toks[list_end:]

    # INTERPOLATE (cols): LOCF only in the composed form.
    interp_cols: list[str] = []
    if tail and _u(tail[0]) == "INTERPOLATE":
        if len(fills) != 1:
            raise DialectError(
                "INTERPOLATE composes with a single fill key only"
            )
        if len(tail) < 2 or tail[1] != "(":
            raise DialectError("INTERPOLATE needs a parenthesized column list")
        close = _clause_end(tail, 2, ())
        for e in _split_top(tail[2:close], ","):
            if len(e) > 1 or (e and not _is_ident(e[0])):
                raise DialectError(
                    "composed WITH FILL supports INTERPOLATE (col, …) "
                    "carry-forward only; the `col AS expr` recurrence "
                    "needs the single-key ungrouped form"
                )
            interp_cols += e
        if close == len(tail):
            raise DialectError("INTERPOLATE list is not closed")
        if not interp_cols:
            raise DialectError("INTERPOLATE needs at least one column")
        tail = tail[close + 1:]

    # Expression fill keys -> hidden columns on the body.
    hidden: list[tuple[str, list[str]]] = []
    fill_keys: list[str] = []
    for _i, (head, _d, _f) in fills:
        if len(head) == 1 and _is_ident(head[0]):
            fill_keys.append(head[0])
        else:
            if interp_cols:
                raise DialectError(
                    "expression WITH FILL keys do not compose with "
                    "INTERPOLATE (alias the expression in the SELECT "
                    "list instead)"
                )
            hid = f"__fill_k{len(hidden)}"
            hidden.append((hid, list(head)))
            fill_keys.append(hid)
    if hidden:
        add = []
        for hid, expr in hidden:
            add += [",", *expr, "AS", hid]
        body = ["SELECT", "*", *add, "FROM", "(", *body, ")"]

    group_keys = [e[0][0] for _i, e in groups]

    def commas(names: list[str]) -> list[str]:
        out: list[str] = []
        for n in names:
            if out:
                out.append(",")
            out.append(n)
        return out

    # Build the composed spine.
    spines: list[list[str]] = []
    if groups:
        spines.append(
            ["SELECT", "DISTINCT", *commas(group_keys),
             "FROM", "(", *body, ")"]
        )
    if groups and len(fills) == 1 and "FROM" not in fills[0][1][2]:
        # per-group min..max spine: one GROUP BY over the body
        (_i, (_h, dirn, f)) = fills[0]
        k = fill_keys[0]
        desc = dirn == "DESC"
        step = f.get("STEP", ["-1" if desc else "1"])
        lo = ["min", "(", k, ")"]
        hi = ["max", "(", k, ")"]
        first, second = (hi, lo) if desc else (lo, hi)
        spine_full = [
            "SELECT", *commas(group_keys), ",", "explode", "(", "sequence",
            "(", *first, ",", *second, ",", *step, ")", ")", "AS", k,
            "FROM", "(", *body, ")", "GROUP", "BY", *commas(group_keys),
        ]
    else:
        for (ki, (_i, (_h, dirn, f))) in enumerate(fills):
            spines.append(
                _fill_key_spine(fill_keys[ki], f, dirn == "DESC", body)
            )
        spine_full = ["SELECT", "*", "FROM", "(", *spines[0], ")",
                      "AS", "__fs0"]
        for si, sp in enumerate(spines[1:], start=1):
            spine_full += ["CROSS", "JOIN", "(", *sp, ")", "AS", f"__fs{si}"]

    using_cols = group_keys + fill_keys
    hid_by_expr = {" ".join(expr): hid for hid, expr in hidden}
    order_tail = ["ORDER", "BY"]
    for j, (head, dirn, _f) in enumerate(entries):
        if j:
            order_tail.append(",")
        if len(head) == 1 and _is_ident(head[0]):
            order_tail.append(head[0])
        else:
            order_tail.append(hid_by_expr[" ".join(head)])
        if dirn:
            order_tail.append(dirn)

    if not interp_cols:
        joined = [
            "SELECT", "*", "FROM", "(", *spine_full, ")", "AS",
            "__fill_spine", "FULL", "OUTER", "JOIN", "(", *body, ")",
            "AS", "__q", "USING", "(", *commas(using_cols), ")",
        ]
        if hidden:
            hids = ", ".join(h for h, _e in hidden)
            return (
                _tokenize(f"SELECT * EXCEPT ({hids}) FROM")
                + ["(", *joined, ")", *order_tail, *tail]
            )
        return joined + [*order_tail, *tail]

    # INTERPOLATE LOCF, partitioned by the group keys.
    x = fill_keys[0]
    dirn = fills[0][1][1] or "ASC"
    marked_body = [
        "(", "SELECT", "*", ",", "true", "AS", "__orig", "FROM",
        "(", *body, ")", ")",
    ]
    joined = [
        "SELECT", "*", "FROM", "(", *spine_full, ")", "AS", "__fill_spine",
        "FULL", "OUTER", "JOIN", *marked_body, "AS", "__q",
        "USING", "(", *commas(using_cols), ")",
    ]
    part = (
        f"PARTITION BY {', '.join(group_keys)} " if group_keys else ""
    )
    over = (
        f"OVER ({part}ORDER BY {x} {dirn} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    exprs = [
        f"CASE WHEN __orig THEN {c} ELSE (last(CASE WHEN __orig "
        f"THEN struct({c}) END, true) {over}).{c} END AS {c}"
        for c in interp_cols
    ]
    except_list = ", ".join(["__orig"] + interp_cols)
    outer = f"SELECT * EXCEPT ({except_list}), " + ", ".join(exprs)
    return (
        _tokenize(outer) + ["FROM", "(", *joined, ")", *order_tail, *tail]
    )


def _rewrite_with_fill(toks: list[str]) -> list[str]:
    """Top-level ``ORDER BY x WITH FILL [FROM a TO b [STEP s]] [STEP s]`` ->
    a generated numeric spine FULL OUTER JOINed back over the query body.

    CH semantics preserved: the fill range is [FROM, TO) (TO exclusive, CH
    contract); with no FROM/TO the spine spans the data's own min..max;
    existing rows are always kept. Convention difference (same as WITH
    TOTALS): non-fill columns on inserted rows come back NULL rather than
    CH's type-default zeros. Round 8 adds the DESC fill (reversed spine,
    ``WHERE x > TO`` exclusive bound, STEP defaults to -1) and the bare
    ``INTERPOLATE (col, …)`` form — each listed column is carried forward
    onto inserted rows from the last ORIGINAL row (LOCF over a struct so
    genuinely-NULL originals carry as NULL; original rows are never
    touched; listed columns move to the end of the output). The
    INTERPOLATE window orders by the fill key globally — no worse than
    the global sort the top-level ORDER BY already requests. Round 9 adds
    ``INTERPOLATE (c AS expr)`` — CH's per-gap RECURRENCE (each inserted
    row applies expr to the previous row's value): expr composes g times
    from the last original value via ``aggregate(sequence(1, g), …)``
    where g is the inserted row's distance down the filled axis; the
    recurrence may reference only the interpolated column (loud
    otherwise). Round 12: multi-column / grouped / expression fill keys
    route to _rewrite_with_fill_composed (composed spines); only NESTED
    subquery fills still fall through to the loud error in
    _rewrite_with_totals."""
    # Locate a depth-0 ORDER BY ... WITH FILL.
    order_at = fill_at = None
    for i, t in _top_level(toks):
        nxt = _u(toks[i + 1]) if i + 1 < len(toks) else ""
        if _u(t) == "ORDER" and nxt == "BY":
            order_at = i
        elif _u(t) == "WITH" and nxt == "FILL" and order_at is not None:
            fill_at = i
            break
    if fill_at is None:
        return toks
    # Parse the FULL ORDER BY list; multi-entry / expression-key shapes
    # route to the composed builder (round 12), the single-plain-key
    # shape keeps the original construction below byte-for-byte.
    entries, list_end = _parse_order_fill_list(toks, order_at)
    if not (
        len(entries) == 1
        and entries[0][2] is not None
        and len(entries[0][0]) == 1
        and _is_ident(entries[0][0][0])
    ):
        return _rewrite_with_fill_composed(toks, order_at, entries, list_end)
    key = toks[order_at + 2:fill_at]
    desc = False
    if len(key) == 2 and _u(key[1]) == "ASC":
        key = key[:1]
    elif len(key) == 2 and _u(key[1]) == "DESC":
        key, desc = key[:1], True
    if len(key) != 1 or not _is_ident(key[0]):
        return toks  # unreachable after the dispatch above; kept as a guard
    x = key[0]
    # Parse FROM / TO / STEP expression token runs after FILL.
    i = fill_at + 2
    bounds: dict[str, list[str]] = {}
    while i < len(toks) and _u(toks[i]) in ("FROM", "TO", "STEP"):
        kw = _u(toks[i])
        end = _clause_end(toks, i + 1, _FILL_STOP)
        run, i = toks[i + 1:end], end
        if not run:
            raise DialectError(f"WITH FILL {kw} needs an expression")
        bounds[kw] = run
    # entries: (column, None) = LOCF carry-forward; (column, expr tokens)
    # = CH's per-gap recurrence c_{i+1} = expr(c_i) on inserted rows.
    interp: list[tuple[str, list[str] | None]] = []
    if i < len(toks) and _u(toks[i]) == "INTERPOLATE":
        if i + 1 >= len(toks) or toks[i + 1] != "(":
            raise DialectError("INTERPOLATE needs a parenthesized column list")
        close = _clause_end(toks, i + 2, ())
        for e in _split_top(toks[i + 2:close], ","):
            if not e:
                continue
            if (
                not _is_ident(e[0]) or _u(e[0]) == "AS"
                or (len(e) > 1 and _u(e[1]) != "AS")
            ):
                raise DialectError(
                    "INTERPOLATE entries are `col` or `col AS expr`"
                )
            expr_toks = e[2:] if len(e) > 1 else None
            if expr_toks is not None:
                if not expr_toks:
                    raise DialectError("INTERPOLATE (col AS expr) needs "
                                       "an expression")
                _check_recurrence_refs(e[0], expr_toks)
            interp.append((e[0], expr_toks))
        if close == len(toks):
            raise DialectError("INTERPOLATE list is not closed")
        if not interp:
            raise DialectError("INTERPOLATE needs at least one column")
        i = close + 1
    if ("FROM" in bounds) != ("TO" in bounds):
        raise DialectError(
            "WITH FILL needs both FROM and TO (or neither, to span the "
            "data's own min..max)"
        )
    tail = toks[i:]  # e.g. a trailing LIMIT
    body = toks[:order_at]
    step = bounds.get("STEP", ["-1" if desc else "1"])
    if "FROM" in bounds:
        bound_op = ">" if desc else "<"
        spine = [
            "SELECT", x, "FROM", "(", "SELECT", "explode", "(", "sequence",
            "(", *bounds["FROM"], ",", *bounds["TO"], ",", *step, ")", ")",
            "AS", x, ")", "WHERE", x, bound_op, *bounds["TO"],
        ]
    else:
        lo = ["min", "(", x, ")"]
        hi = ["max", "(", x, ")"]
        first, second = (hi, lo) if desc else (lo, hi)
        spine = [
            "SELECT", "explode", "(", "sequence", "(", *first,
            ",", *second, ",", *step, ")", ")", "AS", x,
            "FROM", "(", *body, ")",
        ]
    order_tail = ["ORDER", "BY", x] + (["DESC"] if desc else [])
    if not interp:
        return [
            "SELECT", "*", "FROM", "(", *spine, ")", "AS", "__fill_spine",
            "FULL", "OUTER", "JOIN", "(", *body, ")", "AS", "__q",
            "USING", "(", x, ")", *order_tail, *tail,
        ]
    # INTERPOLATE: mark original rows; `col` entries LOCF from the last
    # original row (struct-carried so NULL originals carry as NULL);
    # `col AS expr` entries apply CH's per-gap recurrence — expr composed
    # g times from the last original value, where g is the row's distance
    # down the filled axis (an `aggregate` over sequence(1, g); original
    # rows reset the state and pass through untouched in both forms).
    has_rec = any(rec is not None for _, rec in interp)
    dirkw = "DESC" if desc else "ASC"
    marked_body = [
        "(", "SELECT", "*", ",", "true", "AS", "__orig", "FROM",
        "(", *body, ")", ")",
    ]
    join_core = [
        "SELECT", "*", "FROM", "(", *spine, ")", "AS", "__fill_spine",
        "FULL", "OUTER", "JOIN", *marked_body, "AS", "__q",
        "USING", "(", x, ")",
    ]
    if has_rec:
        joined = (
            _tokenize(
                f"SELECT *, row_number() OVER (ORDER BY {x} {dirkw}) "
                "AS __rn FROM"
            )
            + ["(", *join_core, ")"]
        )
    else:
        joined = join_core
    over = (
        f"OVER (ORDER BY {x} {dirkw} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    exprs: list[str] = []
    for c, rec in interp:
        if rec is None:
            exprs.append(
                f"CASE WHEN __orig THEN {c} ELSE (last(CASE WHEN __orig "
                f"THEN struct({c}) END, true) {over}).{c} END AS {c}"
            )
        else:
            e_sub = " ".join("__acc" if t == c else t for t in rec)
            last = (
                f"(last(CASE WHEN __orig THEN struct(__rn, {c}) END, "
                f"true) {over})"
            )
            exprs.append(
                f"CASE WHEN __orig THEN {c} ELSE "
                f"aggregate(sequence(1, __rn - {last}.__rn), {last}.{c}, "
                f"(__acc, __i) -> {e_sub}) END AS {c}"
            )
    except_list = ", ".join(
        ["__orig"] + (["__rn"] if has_rec else []) + [c for c, _ in interp]
    )
    outer = (
        f"SELECT * EXCEPT ({except_list}), " + ", ".join(exprs)
    )
    return (
        _tokenize(outer)
        + ["FROM", "(", *joined, ")", *order_tail, *tail]
    )


def _rewrite_with_totals(toks: list[str]) -> list[str]:
    """``GROUP BY k1, k2 WITH TOTALS`` -> ``GROUP BY GROUPING SETS ((k1, k2),
    ())`` — the totals row is the empty grouping set (its group keys come
    back NULL rather than CH's type-default zeros; same row, one convention).
    ``ORDER BY … WITH FILL`` has no Spark clause and raises."""
    i = 0
    while i < len(toks):
        if _u(toks[i]) == "WITH" and i + 1 < len(toks):
            nxt = _u(toks[i + 1])
            if nxt == "FILL":
                raise DialectError(
                    "this WITH FILL form is unsupported (top-level single/"
                    "multi/grouped/expression fill keys rewrite to spine "
                    "joins since round 12; NESTED subquery fills do not) — "
                    "use the date-spine + LOCF/interpolation queries "
                    "(x_gap_fill_locf, x_interpolate_linear, "
                    "sql_recursive_date_spine)"
                )
            if nxt == "TOTALS":
                # the nearest GROUP BY before this WITH TOTALS in its scope
                by_at = next(
                    (j for j in range(i - 1, 0, -1)
                     if _u(toks[j]) == "BY" and _u(toks[j - 1]) == "GROUP"
                     and any(x == i for x, _ in _top_level(toks, j))),
                    None,
                )
                if by_at is None:
                    raise DialectError("WITH TOTALS without a GROUP BY")
                keys = toks[by_at + 1:i]
                toks = (
                    toks[:by_at + 1]
                    + ["GROUPING", "SETS", "(", "(", *keys, ")", ",", "(", ")", ")"]
                    + toks[i + 2:]
                )
                continue
        i += 1
    return toks


def _rewrite_array_join(toks: list[str]) -> list[str]:
    """``[LEFT] ARRAY JOIN expr AS alias`` -> ``LATERAL VIEW [OUTER]
    explode(expr) _ajN AS alias``, N numbering the ARRAY JOINs of this
    query, so equal input translates to equal text."""
    n = 0
    i = 0
    while i < len(toks):
        if _u(toks[i]) == "ARRAY" and i + 1 < len(toks) and _u(toks[i + 1]) == "JOIN":
            left = i > 0 and _u(toks[i - 1]) == "LEFT"
            start = i - 1 if left else i
            as_at = _clause_end(toks, i + 2, _CLAUSE_ENDERS | {"AS", "WHERE"})
            if (
                as_at + 1 >= len(toks) or _u(toks[as_at]) != "AS"
                or not _is_ident(toks[as_at + 1])
            ):
                raise DialectError(
                    "ARRAY JOIN requires the `ARRAY JOIN <expr> AS <alias>` "
                    "form here (multi-array and implicit-alias variants: "
                    "use explicit LATERAL VIEW explode / arrays_zip)"
                )
            expr = toks[i + 2:as_at]
            alias = toks[as_at + 1]
            n += 1
            repl = ["LATERAL", "VIEW"]
            if left:
                repl.append("OUTER")
            repl += ["explode", "(", *expr, ")", f"_aj{n}", "AS", alias]
            toks = toks[:start] + repl + toks[as_at + 2:]
            i = start + len(repl)
            continue
        i += 1
    return toks


# CH's time-decayed window family: name(λ)(value, time) OVER (spec).
# value of the function at row r = Σ_{i ∈ frame} v_i · exp((t_i − t_r)/λ).
# The naive rewrite sum(v·exp(t/λ)) OVER spec / exp(t_r/λ) overflows for
# epoch timestamps; anchoring every weight at the PARTITION's max time
# keeps all exp() arguments ≤ 0 (weights in (0, 1]) and the anchor cancels
# exactly: Σ v_i·w_i / w_r with w = exp((t − M)/λ). Transcendental output —
# per SCALE.md rules, use it to RANK rows, not as a hash-stable output.
_TIME_DECAYED: dict[str, str] = {
    "exponentialtimedecayedsum": "sum",
    "exponentialtimedecayedavg": "avg",
    "exponentialtimedecayedcount": "count",
    "exponentialtimedecayedmax": "max",
}


def _rewrite_time_decayed(toks: list[str]) -> list[str]:
    """Rewrite ``exponentialTimeDecayed*(λ)(…) OVER (spec)`` before the
    call pass (the rule needs the OVER spec to build the partition-max
    anchor, which per-call rules never see). Non-window spellings fall
    through to the loud _UNSUPPORTED pointer."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if not (
            _is_ident(t)
            and t.lower() in _TIME_DECAYED
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            i += 1
            continue
        kind = _TIME_DECAYED[t.lower()]
        params, j = _parse_args(toks, i + 1)
        if (
            len(params) != 1
            or j >= len(toks)
            or toks[j] != "("
        ):
            i += 1  # not the parametric spelling — loud pointer later
            continue
        args, j2 = _parse_args(toks, j)
        if j2 + 1 >= len(toks) or _u(toks[j2]) != "OVER" or toks[j2 + 1] != "(":
            i += 1  # no OVER — loud pointer explains the window contract
            continue
        j3 = _group_end(toks, j2 + 1)
        spec_toks = toks[j2 + 2:j3 - 1]
        lam = _render(params[0])
        if kind == "count":
            if len(args) != 1:
                raise DialectError(
                    "exponentialTimeDecayedCount takes (λ)(time)"
                )
            val, time = None, _render(args[0])
        else:
            if len(args) != 2:
                raise DialectError(f"{t} takes (λ)(value, time)")
            val, time = _render(args[0]), _render(args[1])
        # PARTITION BY sub-clause for the anchor window.
        u = [_u(x) for x in spec_toks]
        part = ""
        if "PARTITION" in u:
            p0 = u.index("PARTITION")
            p1 = _clause_end(spec_toks, p0 + 2, ("ORDER", "ROWS", "RANGE"))
            part = "PARTITION BY " + _render(spec_toks[p0 + 2:p1])
        spec = _render(spec_toks)
        # cast(t as double): epoch seconds for timestamps, identity for
        # numerics — both CH-accepted time argument types.
        anchor = f"max(cast(({time}) as double)) OVER ({part})"
        w = f"exp((cast(({time}) as double) - {anchor}) / ({lam}))"
        # w underflows to exactly 0.0 when a row is more than ~745*lambda
        # older than the partition max (exp argument < -745); dividing by
        # it then aborts under ANSI (DIVIDE_BY_ZERO) or silently yields
        # NULL/Inf where CH returns a finite value. Guard the degenerate
        # divisor loudly (repo policy: loud beats silently wrong).
        underflow_msg = (
            f"{t}: decay weight underflowed to 0 - partition time span "
            f"exceeds ~700*lambda; increase lambda or use x_ewma_trailing"
        )
        def _nz(d: str) -> str:
            # cast(0 as double), not the 0D literal: the repl string is
            # re-tokenized, and the tokenizer splits `0D` into two tokens.
            return (
                f"(CASE WHEN ({d}) = cast(0 as double) THEN "
                f"raise_error('{underflow_msg}') ELSE ({d}) END)"
            )
        if kind == "sum":
            repl = f"((sum(({val}) * {w}) OVER ({spec})) / {_nz(w)})"
        elif kind == "max":
            repl = f"((max(({val}) * {w}) OVER ({spec})) / {_nz(w)})"
        elif kind == "count":
            repl = f"((sum({w}) OVER ({spec})) / {_nz(w)})"
        else:
            # avg: the anchors cancel between numerator and denominator,
            # but a frame whose every weight underflowed still yields
            # 0/0 — guard the summed denominator the same way.
            repl = (
                f"((sum(({val}) * {w}) OVER ({spec})) / "
                f"{_nz(f'sum({w}) OVER ({spec})')})"
            )
        repl_toks = _tokenize(repl)
        toks = toks[:i] + repl_toks + toks[j3:]
        i += len(repl_toks)
    return toks


def _rewrite_entropy_cells(toks: list[str]) -> list[str]:
    """Bounded-state rewrite for ``entropy(x)`` / ``theilsU(x, y)`` over
    plain columns (round-11 verdict item 6): restructure

        SELECT k, entropy(x) AS e FROM t [WHERE ...] GROUP BY k

    into a (value, count) CELLS pre-aggregation + marginal windows +
    run-length arithmetic on the bounded cells frame — per-group state
    drops from O(rows) (one collect_list per group) to O(distinct values),
    the hash-aggregate's own state. Identity used: Σ_v c_v·ln c_v =
    Σ_cells __cn·ln(marginal), with marginals as window sums riding the
    same exchange.

    Applies ONLY to the exact safe shape — a single top-level SELECT whose
    items are bare group keys or aliased entropy/theilsU over single
    column identifiers, grouped by plain identifiers, no HAVING/DISTINCT,
    no set operations, no other aggregates. Everything else keeps the
    collect_list fold (always correct, O(group values) state — CH's own
    memory shape for these aggregates). NULL semantics mirror the fold:
    entropy and the theilsU marginal entropies drop NULL rows
    (collect_list drops scalar NULLs); the joint entropy keeps them
    (struct fields survive). Summation ORDER differs from the sorted
    fold, so outputs agree to float ulp, not bits — both are rank-only
    by the repo's transcendental contract."""
    low = [t.lower() if _is_ident(t) else t for t in toks]
    if "entropy" not in low and "theilsu" not in low:
        return toks
    if not toks or _u(toks[0]) != "SELECT":
        return toks

    # top-level clause positions
    top = dict(_top_level(toks))
    if any(
        _u(t) in ("UNION", "INTERSECT", "EXCEPT", "HAVING", "DISTINCT",
                  "ROLLUP", "CUBE", "GROUPING")
        for t in top.values()
    ):
        # ROLLUP/CUBE/GROUPING SETS super-aggregate rows would see
        # per-base-group marginal windows — the cells rewrite is
        # silently wrong there (ADVICE r11, high). Keep the fold.
        return toks
    from_at = next((i for i, t in top.items() if _u(t) == "FROM"), None)
    group_at = max(
        (i for i, t in top.items()
         if _u(t) == "GROUP" and i + 1 < len(toks) and _u(toks[i + 1]) == "BY"),
        default=None,
    )
    if from_at is None or any(
        i not in top for i, t in enumerate(low) if t in ("entropy", "theilsu")
    ):
        return toks  # entropy only inside subqueries (or no FROM): fold

    # --- select items ---------------------------------------------------
    parsed: list[tuple] = []  # ('key', name) | (fn, args, alias)
    for it in _split_top(toks[1:from_at], ","):
        if len(it) == 1 and _is_ident(it[0]):
            parsed.append(("key", it[0]))
            continue
        if not (_is_ident(it[0]) and it[0].lower() in ("entropy", "theilsu")):
            return toks
        fn = it[0].lower()
        body = it[1:]
        alias = None
        if len(body) >= 2 and _u(body[-2]) == "AS" and _is_ident(body[-1]):
            alias, body = body[-1], body[:-2]
        if alias is None:
            return toks  # unaliased: keep the fold (preserves the name)
        args = (
            _split_top(body[1:-1], ",")
            if body and body[0] == "(" and _group_end(body, 0) == len(body)
            else []
        )
        if len(args) != (1 if fn == "entropy" else 2) or any(
            len(a) != 1 or not _is_ident(a[0]) for a in args
        ):
            return toks  # expression args: keep the fold
        parsed.append((fn, [a[0] for a in args], alias))
    if not any(p[0] in ("entropy", "theilsu") for p in parsed):
        return toks

    # --- group keys + trailing clauses -----------------------------------
    keys: list[str] = []
    trailing: list[str] = []
    if group_at is not None:
        i = group_at + 2
        expect_ident = True
        while i < len(toks):
            t = toks[i]
            if expect_ident and _is_ident(t) and _u(t) not in _CLAUSE_ENDERS:
                keys.append(t)
                expect_ident = False
                i += 1
            elif not expect_ident and t == ",":
                expect_ident = True
                i += 1
            else:
                break
        if expect_ident or not keys:
            return toks  # non-identifier group keys: keep the fold
        trailing = toks[i:]
        tail = toks[from_at:group_at]
    else:
        # global aggregate: split any top-level ORDER BY / LIMIT off the
        # FROM tail so they re-attach to the OUTER select.
        cut = _clause_end(toks, from_at, ("ORDER", "LIMIT", "SORT"))
        tail = toks[from_at:cut]
        trailing = toks[cut:]
    key_set = {k.lower() for k in keys}
    if any(p[0] == "key" and p[1].lower() not in key_set for p in parsed):
        return toks

    # --- build the three-layer SQL ---------------------------------------
    args: list[str] = []  # cell key columns beyond the group keys
    for p in parsed:
        if p[0] == "key":
            continue
        for a in p[1]:
            if a.lower() not in key_set and a.lower() not in (
                x.lower() for x in args
            ):
                args.append(a)
    marg: dict[tuple, str] = {}  # partition cols tuple -> window alias

    def marginal(cols: list[str]) -> str:
        key = tuple(c.lower() for c in cols)
        if key not in marg:
            marg[key] = f"__m{len(marg)}"
        return marg[key]

    outer_items: list[str] = []
    for p in parsed:
        if p[0] == "key":
            outer_items.append(p[1])
            continue
        fn, fargs, alias = p

        def h_nats(col: str | None, m: str) -> str:
            # entropy in nats over cells; col=None -> joint (keep NULLs)
            flt = f" FILTER (WHERE {col} IS NOT NULL)" if col else ""
            n = f"sum(__cn){flt}"
            return (
                f"(ln({n}) - sum(__cn * ln({m})){flt} / {n})"
            )

        def n_nonnull(col: str) -> str:
            return f"coalesce(sum(__cn) FILTER (WHERE {col} IS NOT NULL), 0)"

        if fn == "entropy":
            x = fargs[0]
            m = marginal(keys + [x])
            outer_items.append(
                f"(CASE WHEN {n_nonnull(x)} = 0 THEN cast(0 as double) "
                f"ELSE {h_nats(x, m)} END) / ln(2) AS {alias}"
            )
        else:
            x, y = fargs
            mx = marginal(keys + [x])
            my = marginal(keys + [y])
            mxy = marginal(keys + [x, y])
            hx = h_nats(x, mx)
            # fold parity: an all-NULL y gives hy = 0 (empty collect_list),
            # not NULL — guard the marginal like the fold's empty case.
            hy = (
                f"(CASE WHEN {n_nonnull(y)} = 0 THEN cast(0 as double) "
                f"ELSE {h_nats(y, my)} END)"
            )
            outer_items.append(
                f"(CASE WHEN {n_nonnull(x)} = 0 OR {hx} = cast(0 as "
                f"double) THEN NULL "
                f"ELSE ({hx} + {hy} - {h_nats(None, mxy)}) "
                f"/ {hx} END) AS {alias}"
            )

    cell_keys = ", ".join(keys + args)
    inner1 = (
        f"SELECT {cell_keys}, count(*) AS __cn {_render(tail)} "
        f"GROUP BY {cell_keys}"
    )
    windows = ", ".join(
        f"sum(__cn) OVER (PARTITION BY {', '.join(cols)}) AS {name}"
        for cols, name in marg.items()
    )
    inner2 = f"SELECT {cell_keys}, __cn, {windows} FROM ({inner1})"
    group = f" GROUP BY {', '.join(keys)}" if keys else ""
    sql = f"SELECT {', '.join(outer_items)} FROM ({inner2}){group}"
    return _tokenize(sql) + trailing


# ---------------------------------------------------------------------------
# Function rules
# ---------------------------------------------------------------------------

def _fn(name: str) -> Callable[[list[str]], str]:
    return lambda a: f"{name}({', '.join(a)})"


def _swap(name: str) -> Callable[[list[str]], str]:
    return lambda a: f"{name}({', '.join(reversed(a))})"


def _tpl(fmt: str) -> Callable[[list[str]], str]:
    return lambda a: fmt.format(*a)


def _trunc(unit: str) -> Callable[[list[str]], str]:
    return lambda a: f"date_trunc('{unit}', {a[0]})"


def _cast(sql_type: str) -> Callable[[list[str]], str]:
    return lambda a: f"cast({a[0]} as {sql_type})"


def _try_cast(sql_type: str) -> Callable[[list[str]], str]:
    return lambda a: f"try_cast({a[0]} as {sql_type})"


def _time_floor(seconds: int) -> Callable[[list[str]], str]:
    return lambda a: (
        f"timestamp_seconds(floor(unix_timestamp({a[0]}) / {seconds}) * {seconds})"
    )


def _to_start_of_interval(a: list[str]) -> str:
    """toStartOfInterval(ts, INTERVAL n UNIT): sub-day units floor on the
    epoch grid (CH's own alignment origin for them); multi-unit calendar
    intervals have no closed-form Spark expression and stay loud."""
    if len(a) != 2:
        raise DialectError("toStartOfInterval takes (ts, INTERVAL n UNIT)")
    m = re.match(r"(?i)^INTERVAL\s+(\d+)\s+(\w+?)S?$", a[1].strip())
    if not m:
        raise DialectError("toStartOfInterval needs a literal INTERVAL n UNIT")
    n, unit = int(m.group(1)), m.group(2).upper()
    secs = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}.get(unit)
    if secs:
        w = n * secs
        return f"timestamp_seconds(floor(unix_timestamp({a[0]}) / {w}) * {w})"
    if n == 1 and unit in ("WEEK", "MONTH", "QUARTER", "YEAR"):
        return f"date_trunc('{unit.lower()}', {a[0]})"
    cal = {"MONTH": 1, "QUARTER": 3, "YEAR": 12}.get(unit)
    if cal:
        # Multi-month grids anchor at 1970-01 (CH's calendar-unit origin):
        # floor months-since-epoch onto the k-month grid. floor(), not
        # integer div — div truncates toward zero and would misalign
        # pre-1970 timestamps. The year/month decomposition below must
        # ALSO use floor semantics: fm is negative pre-1970, and Spark's
        # div/% truncate toward zero (fm=-15 would otherwise render
        # make_timestamp(1969, -2, ...)). pmod + floor-div keep the month
        # in 1..12 for any sign.
        k = n * cal
        mse = f"((year({a[0]}) - 1970) * 12 + month({a[0]}) - 1)"
        fm = f"(cast(floor({mse} / {k}) as int) * {k})"
        return (
            f"make_timestamp(1970 + cast(floor(({fm}) / 12.0) as int), "
            f"pmod({fm}, 12) + 1, 1, 0, 0, 0)"
        )
    raise DialectError(
        f"toStartOfInterval: INTERVAL {n} {unit} has no Spark closed form — "
        "multi-week grids have no stable cross-engine anchor; use "
        "date_trunc granularities, N-month/quarter/year, or a sub-day width"
    )


def _timestampadd(unit: str) -> Callable[[list[str]], str]:
    return lambda a: f"timestampadd({unit}, {a[1]}, {a[0]})"


def _date_diff(a: list[str]) -> str:
    if not _is_str_lit(a[0]):
        raise DialectError("dateDiff requires a literal unit")
    return f"timestampdiff({_unquote(a[0]).upper()}, {a[1]}, {a[2]})"


_FMT_MAP = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%c": "MM", "%d": "dd",
    "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss",
    "%F": "yyyy-MM-dd", "%T": "HH:mm:ss", "%e": "d", "%j": "DDD",
    "%p": "a", "%a": "EEE", "%W": "EEEE", "%b": "MMM", "%%": "%",
}


def _format_datetime(a: list[str]) -> str:
    """Scan the CH strftime-style pattern char-by-char: %-specifiers map to
    Java pattern letters; literal LETTER runs are single-quoted (Java
    reserves every letter — '%Y-%m-%dT%H' would otherwise throw on the T)."""
    if not _is_str_lit(a[1]):
        raise DialectError("formatDateTime requires a literal format string")
    fmt = _unquote(a[1])
    out: list[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%" and i + 1 < len(fmt):
            tok = fmt[i:i + 2]
            if tok not in _FMT_MAP:
                raise DialectError(
                    f"formatDateTime: unsupported specifier {tok!r} in {fmt!r}"
                )
            out.append(_FMT_MAP[tok])
            i += 2
        elif ch.isalpha():
            j = i
            while j < len(fmt) and fmt[j].isalpha():
                j += 1
            out.append(f"'{fmt[i:j]}'")
            i = j
        elif ch == "'":
            out.append("''")
            i += 1
        else:
            out.append(ch)
            i += 1
    pattern = "".join(out).replace("'", "\\'")
    return f"date_format({a[0]}, '{pattern}')"


def _split_by_char(a: list[str]) -> str:
    if not _is_str_lit(a[0]):
        raise DialectError("splitByChar/splitByString require a literal separator")
    sep = re.escape(_unquote(a[0])).replace("'", "''")
    return f"split({a[1]}, '{sep}')"


def _extract(a: list[str]) -> str:
    # CH extract(haystack, 'regex'); the ANSI EXTRACT(field FROM ts) form
    # arrives as one arg containing FROM and passes through untouched.
    if len(a) != 2 or not _is_str_lit(a[1]):
        return f"extract({', '.join(a)})"
    idx = 1 if "(" in a[1] else 0
    return f"regexp_extract({a[0]}, {a[1]}, {idx})"


def _replace_regexp_all(a: list[str]) -> str:
    rep = a[2]
    if _is_str_lit(rep):
        rep = "'" + re.sub(r"\\(\d)", r"$\1", _unquote(rep)).replace("'", "''") + "'"
    return f"regexp_replace({a[0]}, {a[1]}, {rep})"


def _json_path(a1: str) -> str:
    if not _is_str_lit(a1):
        raise DialectError("JSON extraction requires a literal key")
    return f"'$.{_unquote(a1)}'"


def _multi_if(a: list[str]) -> str:
    if len(a) % 2 == 0 or len(a) < 3:
        raise DialectError("multiIf needs cond,val pairs plus an else")
    parts = ["CASE"]
    for i in range(0, len(a) - 1, 2):
        parts.append(f"WHEN {a[i]} THEN {a[i + 1]}")
    parts.append(f"ELSE {a[-1]} END")
    return " ".join(parts)


def _count(a: list[str]) -> str:
    return f"count({', '.join(a)})" if a else "count(*)"


def _array_slice(a: list[str]) -> str:
    if len(a) == 3:
        return f"slice({a[0]}, {a[1]}, {a[2]})"
    return f"slice({a[0]}, {a[1]}, size({a[0]}))"


def _range(a: list[str]) -> str:
    if len(a) == 1:
        return f"sequence(0, {a[0]} - 1)"
    return f"sequence({a[0]}, {a[1]} - 1)"


def _ch_transform(a: list[str]) -> str:
    """ClickHouse's lookup ``transform(x, from, to[, default])`` (NOT Spark's
    higher-order transform): a map lookup with a default. ``try_element_at``
    keeps missing keys NULL under ANSI mode; 3-arg form falls back to x."""
    if len(a) == 4:
        return (f"coalesce(try_element_at(map_from_arrays({a[1]}, {a[2]}), "
                f"{a[0]}), {a[3]})")
    if len(a) == 3:
        return (f"coalesce(try_element_at(map_from_arrays({a[1]}, {a[2]}), "
                f"{a[0]}), {a[0]})")
    raise DialectError("transform takes 3 or 4 arguments")


def _retention(a: list[str]) -> str:
    """retention(c1, …, cN) aggregate: r[1] = c1 ever held; r[i] = c1 AND ci
    ever held — expanded to plain max-flag aggregates (CH returns UInt8)."""
    if not a:
        raise DialectError("retention needs at least one condition")
    first = f"max(if({a[0]}, 1, 0))"
    parts = [first] + [f"({first} * max(if({c}, 1, 0)))" for c in a[1:]]
    return f"array({', '.join(parts)})"


def _tuple_element(a: list[str]) -> str:
    if len(a) != 2:
        raise DialectError("tupleElement takes (tuple, index-or-name)")
    idx = a[1]
    if _is_str_lit(idx):
        return f"{a[0]}.{_unquote(idx)}"
    if idx.isdigit():
        return f"{a[0]}._{idx}"
    raise DialectError(
        "tupleElement needs a literal index or field name — dynamic tuple "
        "indexing has no Spark struct equivalent"
    )


def _tuple(a: list[str]) -> str:
    fields = ", ".join(f"'_{i + 1}', {arg}" for i, arg in enumerate(a))
    return f"named_struct({fields})"


_ARRAY_REDUCE_MAP = {
    "sum": "aggregate({0}, 0D, (acc, x) -> acc + x)",
    "min": "array_min({0})",
    "max": "array_max({0})",
    "avg": "(aggregate({0}, 0D, (acc, x) -> acc + x) / size({0}))",
    "count": "size({0})",
    "uniqExact": "size(array_distinct({0}))",
}


def _array_reduce(a: list[str]) -> str:
    """arrayReduce('agg', arr): the aggregate name is a literal — map the
    common ones onto array expressions; anything else stays loud."""
    if not a or not _is_str_lit(a[0]):
        raise DialectError("arrayReduce needs a literal aggregate name")
    name = _unquote(a[0])
    tpl = _ARRAY_REDUCE_MAP.get(name)
    if tpl is None or len(a) != 2:
        raise DialectError(
            f"arrayReduce({name!r}): only sum/min/max/avg/count/uniqExact "
            "over one array translate — explode + GROUP BY for the rest"
        )
    return tpl.format(a[1])


def _to_week(a: list[str]) -> str:
    """toWeek's default mode 0 is MySQL-style Sunday-based 0..53 numbering —
    NOT Spark's ISO weekofyear; only the ISO mode (3) translates
    faithfully, everything else stays loud."""
    if len(a) > 1 and a[1].strip() == "3":
        return f"weekofyear({a[0]})"
    raise DialectError(
        "toWeek: only mode 3 (ISO) maps to weekofyear — mode-0/1/2 "
        "Sunday-based 0..53 numbering has no Spark builtin; use toISOWeek "
        "or toStartOfWeek buckets instead"
    )


def _to_start_of_week(a: list[str]) -> str:
    """Sunday-start for CH modes 0/2, Monday-start for 1/3. The mode picks
    the expression shape at translation time, so it must be one of those
    four literals — a column or computed mode cannot be translated and
    stays loud rather than silently defaulting."""
    if len(a) >= 2:
        mode = a[1].strip()
        if mode not in ("0", "1", "2", "3"):
            raise DialectError(
                f"toStartOfWeek: mode must be a literal 0/1/2/3 (got "
                f"{mode!r}) — it selects Sunday- vs Monday-start at "
                "translation time"
            )
    else:
        mode = "0"
    if mode in ("0", "2"):
        return f"date_sub(cast({a[0]} as date), dayofweek({a[0]}) - 1)"
    return f"to_date(date_trunc('week', {a[0]}))"


# ---------------------------------------------------------------------------
# External dictionaries: CH's dictGet family over registered lookup tables.
#
# ClickHouse dictionaries are host-side hash maps loaded from a source table;
# ``dictGet('d', 'attr', k)`` is a point lookup usable in any expression.
# The Spark-faithful analog is a correlated scalar subquery against the
# declared view — Catalyst rewrites it into a left outer join (broadcast
# when the dictionary is small), which is EXACTLY the CH execution shape: the
# fact side streams, the dictionary is the build side. The declaration holds
# the key column (CH's PRIMARY KEY), so the call sites stay verbatim.
#
# Documented divergences: a miss yields NULL (CH plain dictGet yields the
# attribute type's default value — use dictGetOrDefault for portable text;
# NULL-on-miss is this shim's standing convention, same as try_element_at /
# WITH FILL); duplicate keys resolve via max() (CH dictionaries enforce key
# uniqueness at load, so this is unobservable on well-formed sources).
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class DictionarySpec:
    name: str   # name used in CH SQL: dictGet('<name>', ...)
    view: str   # Spark table/temp-view holding the dictionary rows
    key: str    # key column (CH PRIMARY KEY); single-column only


@dataclass(frozen=True)
class Ddl:
    """Declared dictionaries and SAMPLE BY keys: immutable, hashable and in
    name order, so declaring the same objects again gives an equal value."""

    dictionaries: tuple[DictionarySpec, ...] = ()
    sample_keys: tuple[tuple[str, str], ...] = ()  # (bare table, key expr)

    def with_dictionary(self, spec: DictionarySpec) -> Ddl:
        specs = {d.name: d for d in self.dictionaries} | {spec.name: spec}
        return replace(self, dictionaries=tuple(specs[k] for k in sorted(specs)))

    def with_sample_key(self, table: str, key: str) -> Ddl:
        keys = dict(self.sample_keys) | {table.split(".")[-1].strip("`\""): key}
        return replace(self, sample_keys=tuple(sorted(keys.items())))


# The running translate() call's Ddl, also seen by the calls nested in it.
_DDL: ContextVar[Ddl] = ContextVar("dialect_ddl", default=Ddl())
_DDL_WRITE_LOCK = threading.Lock()  # register_*'s read-modify-write


def register_dictionary(spark, name: str, view: str, key: str) -> DictionarySpec:
    """Declare a dictionary for ``spark``'s ``clickhouse_sql`` calls.

    ``view`` must resolve in that session (a table or temp view); ``key``
    is the single key column. Composite (tuple) keys have no scalar-subquery
    equality form here — pre-concat them into one column on both sides.
    """
    from .session import state

    spec, st = DictionarySpec(name=name, view=view, key=key), state(spark)
    with _DDL_WRITE_LOCK:
        st["ddl"] = st.get("ddl", Ddl()).with_dictionary(spec)
    return spec


def register_sample_key(spark, table: str, key_expr: str) -> None:
    """Declare a table's translated ``SAMPLE BY`` expression for
    ``spark``'s ``SAMPLE … OFFSET`` queries (deterministic subranges)."""
    from .session import state

    st = state(spark)
    with _DDL_WRITE_LOCK:
        st["ddl"] = st.get("ddl", Ddl()).with_sample_key(table, key_expr)


_STRLIT_RE = re.compile(r"\s*'((?:[^'\\]|\\.|'')*)'\s*$")


def _dict_spec(arg: str) -> DictionarySpec:
    m = _STRLIT_RE.match(arg)
    if not m:
        raise DialectError(
            "dictGet family: the dictionary name must be a string literal"
        )
    name = m.group(1)
    known = {d.name: d for d in _DDL.get().dictionaries}
    if name not in known:
        raise DialectError(
            f"dictionary {name!r} is not registered — call "
            "dialect.register_dictionary(spark, name, view, key) or "
            "translate with the Ddl of a deployment that declares it "
            f"(ddl.translate_dictionary); registered: {sorted(known) or '(none)'}"
        )
    return known[name]


def _dict_attr(arg: str) -> str:
    m = _STRLIT_RE.match(arg)
    if not m or not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", m.group(1)):
        raise DialectError(
            "dictGet family: the attribute must be a string-literal "
            "column name"
        )
    return m.group(1)


def _dict_subquery(a: list[str], cast_to: str | None = None) -> str:
    if len(a) < 3:
        raise DialectError("dictGet takes (dict, attr, key_expr)")
    spec, attr = _dict_spec(a[0]), _dict_attr(a[1])
    expr = "max(__dict_val)"
    if cast_to is not None:
        expr = f"cast({expr} as {cast_to})"
    # The inner derived table exposes ONLY __dict_key/__dict_val: the key
    # expression is the caller's OUTER-scope expression, and SQL resolves
    # unqualified names inner-first — without the rename, a dictionary key
    # column sharing the fact column's name would silently turn the
    # correlation into a tautology.
    return (
        f"(SELECT {expr} FROM (SELECT {spec.key} AS __dict_key, "
        f"{attr} AS __dict_val FROM {spec.view}) "
        f"WHERE __dict_key = ({a[2]}))"
    )


def _dict_has(a: list[str]) -> str:
    if len(a) != 2:
        raise DialectError("dictHas takes (dict, key_expr)")
    spec = _dict_spec(a[0])
    return (
        f"((SELECT count(1) FROM (SELECT {spec.key} AS __dict_key "
        f"FROM {spec.view}) WHERE __dict_key = ({a[1]})) > 0)"
    )


# Typed dictGet<T> variants cast the looked-up attribute.
_DICT_GET_TYPES = {
    "Int8": "tinyint", "Int16": "smallint", "Int32": "int", "Int64": "bigint",
    "UInt8": "smallint", "UInt16": "int", "UInt32": "bigint",
    "UInt64": "bigint",
    "Float32": "float", "Float64": "double", "String": "string",
    "Date": "date", "DateTime": "timestamp",
}


def _install_dict_rules(rules: dict[str, Callable[[list[str]], str]]) -> None:
    rules["dictGet"] = lambda a: _dict_subquery(a)
    rules["dictGetOrNull"] = lambda a: _dict_subquery(a)
    rules["dictGetOrDefault"] = lambda a: (
        f"coalesce({_dict_subquery(a)}, {a[3]})" if len(a) == 4
        else _raise(DialectError("dictGetOrDefault takes (dict, attr, key, default)"))
    )
    rules["dictHas"] = _dict_has
    for cht, spark_t in _DICT_GET_TYPES.items():
        rules[f"dictGet{cht}"] = (
            lambda a, t=spark_t: _dict_subquery(a, cast_to=t)
        )
        rules[f"dictGet{cht}OrDefault"] = (
            lambda a, t=spark_t, n=cht: (
                f"coalesce({_dict_subquery(a[:3], cast_to=t)}, {a[3]})"
                if len(a) == 4
                else _raise(DialectError(
                    f"dictGet{n}OrDefault takes (dict, attr, key, default)"
                ))
            )
        )


def _raise(exc: Exception):  # expression-position raise helper
    raise exc


def _xor_fold(a: list[str]) -> str:
    """CH's logical xor is VARIADIC (2+ args). Fold (<>0) over all args
    with explicit parens — Spark's comparison grammar is non-associative,
    so a bare chain `x <> y <> z` would not parse (ADVICE r9: the old
    2-arg template silently dropped the tail arguments)."""
    if len(a) < 2:
        raise DialectError("xor takes 2+ arguments")
    acc = f"(({a[0]}) <> 0)"
    for x in a[1:]:
        acc = f"({acc} <> (({x}) <> 0))"
    return f"cast({acc} as int)"


def _format_readable_size(a: list[str]) -> str:
    """formatReadableSize(bytes) → '1.00 KiB'-style strings, binary units,
    two decimals — same shape as CH's output (no thousands separators)."""
    x = f"cast({a[0]} as double)"
    branches = []
    for i, unit in enumerate(["B", "KiB", "MiB", "GiB", "TiB", "PiB"]):
        bound = f"{float(2 ** (10 * (i + 1))):.0f}"
        branches.append(
            f"WHEN abs({x}) < {bound}D THEN "
            f"concat(format_string('%.2f', {x} / {float(2 ** (10 * i)):.0f}D), ' {unit}')"
        )
    return (
        "(CASE " + " ".join(branches)
        + f" ELSE concat(format_string('%.2f', {x} / {float(2 ** 60):.0f}D), ' EiB') END)"
    )


def _extract_groups(a: list[str]) -> str:
    """extractGroups(s, re) → the capture groups of the FIRST match as an
    array. Needs a literal pattern: the group count picks the expression
    arity at translation time."""
    m = _STRLIT_RE.match(a[1]) if len(a) > 1 else None
    if not m:
        raise DialectError(
            "extractGroups: the pattern must be a string literal (the "
            "capture-group count shapes the translation)"
        )
    n = len(re.findall(r"(?<!\\)\((?!\?)", m.group(1)))
    if n == 0:
        raise DialectError("extractGroups: the pattern has no capture groups")
    parts = ", ".join(
        f"regexp_extract({a[0]}, {a[1]}, {i})" for i in range(1, n + 1)
    )
    return f"array({parts})"


def _extract_all(a: list[str]) -> str:
    """extractAll picks group 1 when the (literal) pattern has a capturing
    subpattern, the whole match otherwise — CH's own contract. Non-literal
    patterns default to whole-match."""
    m = _STRLIT_RE.match(a[1]) if len(a) > 1 else None
    grp = 1 if m and re.search(r"(?<!\\)\((?!\?)", m.group(1)) else 0
    return f"regexp_extract_all({a[0]}, {a[1]}, {grp})"


_DATE_NAME_PARTS = {
    "year": "cast(year({0}) as string)",
    "quarter": "cast(quarter({0}) as string)",
    "month": "date_format({0}, 'MMMM')",
    "week": "cast(weekofyear({0}) as string)",
    "dayofyear": "cast(dayofyear({0}) as string)",
    "day": "cast(day({0}) as string)",
    "weekday": "date_format({0}, 'EEEE')",
    "hour": "cast(hour({0}) as string)",
    "minute": "cast(minute({0}) as string)",
    "second": "cast(second({0}) as string)",
}


def _date_name(a: list[str]) -> str:
    m = _STRLIT_RE.match(a[0]) if a else None
    part = m.group(1).lower() if m else None
    if part not in _DATE_NAME_PARTS:
        raise DialectError(
            "dateName: the part must be a literal out of "
            f"{sorted(_DATE_NAME_PARTS)}"
        )
    return _DATE_NAME_PARTS[part].format(a[1])


def _array_resize(a: list[str]) -> str:
    if len(a) < 3:
        raise DialectError(
            "arrayResize: pass the pad value explicitly (CH pads with the "
            "element type's default, which is not knowable at translation "
            "time)"
        )
    return (
        f"if({a[1]} <= size({a[0]}), slice({a[0]}, 1, {a[1]}), "
        f"concat({a[0]}, array_repeat({a[2]}, {a[1]} - size({a[0]}))))"
    )


def _haversine(a: list[str]) -> str:
    """greatCircleDistance/geoDistance(lon1, lat1, lon2, lat2) → metres via
    the haversine formula (CH's historical sphere radius 6372797.560856 m;
    CH's newer geoDistance uses an ellipsoid correction — documented
    divergence, same role)."""
    if len(a) != 4:
        raise DialectError("greatCircleDistance takes (lon1, lat1, lon2, lat2)")
    lon1, lat1, lon2, lat2 = a
    return (
        f"(2 * 6372797.560856D * asin(sqrt("
        f"power(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"power(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )


def _map_combinator(op: str):
    """``sumMap/minMap/maxMap`` (round 8): key-wise aggregation of map
    columns per group, as a ``map_zip_with`` fold over the collected maps
    (least/greatest skip NULLs; sums coalesce missing keys to 0). Both CH
    spellings translate: ``sumMap(m)`` on a Map column and the classic
    two-array ``sumMap(keys, values)`` form. The fold state is the
    collected map list — fine at per-group map counts; the
    partial-aggregation-friendly scale path stays operators/mapagg.py
    (a_map_combinators), which shuffles one partial per (group, key)."""
    merge = (
        "coalesce(v1, 0) + coalesce(v2, 0)" if op == "+"
        else f"{op}(v1, v2)"
    )

    def rule(args: list[str]) -> str:
        if len(args) == 1:
            coll = f"collect_list({args[0]})"
        elif len(args) == 2:
            coll = f"collect_list(map_from_arrays({args[0]}, {args[1]}))"
        else:
            raise DialectError(
                "map combinators take a map column or (keys, values) arrays"
            )
        fold = (
            "aggregate(slice(ms, 2, size(ms) - 1), element_at(ms, 1), "
            f"(a, e) -> map_zip_with(a, e, (k, v1, v2) -> {merge}))"
        )
        return (
            f"element_at(transform(array({coll}), ms -> "
            f"CASE WHEN size(ms) = 0 THEN NULL ELSE {fold} END), 1)"
        )

    return rule



def _parse_date_time(args: list[str]) -> str:
    """``parseDateTime(s, '%Y-%m-%d …')`` (round 9): the inverse of
    formatDateTime, reusing the SAME %-specifier conversion — generate a
    date_format with a placeholder column, then lift its Java pattern
    into to_timestamp. Unknown specifiers and non-literal formats stay
    loud (the pattern rewrites at translation time)."""
    if len(args) != 2:
        raise DialectError("parseDateTime takes (string, format)")
    rendered = _format_datetime(["__x", args[1]])
    pattern = rendered[len("date_format(__x, "):-1]
    return f"to_timestamp({args[0]}, {pattern})"


def _accurate_cast(fn: str, args: list[str]) -> str:
    """``accurateCast(x, 'UInt8')`` → an ANSI cast (throws on overflow —
    CH's contract); the OrNull form → try_cast. The CH type name maps
    through ddl.map_type, the same table CREATE TABLE translation uses."""
    if len(args) != 2 or not _is_str_lit(args[1]):
        raise DialectError("accurateCast takes (value, 'CHType')")
    from .ddl import map_type

    return f"{fn}({args[0]} AS {map_type(_unquote(args[1]))})"


def _time_slots(args: list[str]) -> str:
    """``timeSlots(start, duration[, size=1800])``: every size-aligned
    slot start covering [start, start+duration] — a sequence of
    timestamps from start rounded down to the slot grid, stepping by the
    slot size (CH's contract; the end point is inclusive)."""
    if len(args) not in (2, 3):
        raise DialectError("timeSlots takes (start, duration[, size])")
    start, dur = args[0], args[1]
    size = args[2] if len(args) == 3 else "1800"
    lo = (f"timestamp_seconds(floor(unix_timestamp({start}) / ({size})) "
          f"* ({size}))")
    hi = f"({start} + make_dt_interval(0, 0, 0, {dur}))"
    return f"sequence({lo}, {hi}, make_dt_interval(0, 0, 0, {size}))"


def _bitmask_to_list(args: list[str]) -> str:
    """``bitmaskToList(n)`` → '1,2,8'-style string of the set power-of-two
    components, ascending — a filter over the 63 bit positions."""
    if len(args) != 1:
        raise DialectError("bitmaskToList takes one argument")
    n = args[0]
    # the value must shift as a BIGINT: Spark wraps an INT's shift
    # amount mod 32, so bit probes ≥ 32 would re-read the low bits
    return (
        f"concat_ws(',', transform(filter(sequence(0, 62), "
        f"i -> (shiftright(cast({n} as bigint), i) & 1) = 1), "
        "i -> cast(shiftleft(1L, i) as string)))"
    )


def _array_shift_left(args: list[str]) -> str:
    """``arrayShiftLeft(arr, n, default)``: drop the first n, pad with
    the explicit default. The 2-argument form pads with the element
    TYPE's default value in CH (0, '' …) — untypeable generically here,
    so it stays loud."""
    if len(args) != 3:
        raise DialectError(
            "arrayShiftLeft: only the 3-argument (arr, n, default) form "
            "translates — CH's 2-argument form pads with the element "
            "type's default value, which SQL cannot synthesize "
            "generically; pass the default explicitly"
        )
    a, n, d = args
    return (
        f"concat(slice({a}, ({n}) + 1, greatest(size({a}) - ({n}), 0)), "
        f"array_repeat({d}, least(({n}), size({a}))))"
    )



_JSON_KV_CASTS = {
    "String": "string", "Int8": "tinyint", "Int16": "smallint",
    "Int32": "int", "Int64": "bigint", "UInt8": "smallint",
    "UInt16": "int", "UInt32": "bigint", "UInt64": "bigint",
    "Float32": "float", "Float64": "double",
}


def _json_keys_values(a: list[str]) -> str:
    """JSONExtractKeysAndValues(j, 'T') -> array of (key, value:T) structs
    from the JSON object's top level (the common CH call shape; nested
    paths stay loud)."""
    if len(a) != 2:
        raise DialectError(
            "JSONExtractKeysAndValues: only the (json, 'Type') top-level "
            "form translates — extract nested objects with JSONExtractRaw "
            "first"
        )
    t = a[1].strip().strip("'\"")
    if t not in _JSON_KV_CASTS:
        raise DialectError(
            f"JSONExtractKeysAndValues: unsupported value type {t!r} "
            f"(supported: {', '.join(sorted(_JSON_KV_CASTS))})"
        )
    spark_t = _JSON_KV_CASTS[t]
    if t == "String":
        value = "e.value"
    else:
        # CH returns the type's default (0) for values that don't parse as
        # the requested numeric type (strings, booleans, nested objects);
        # a strict CAST would abort the whole query with CAST_INVALID_INPUT
        # on the first mixed-type object (ADVICE r9).
        value = f"coalesce(try_cast(e.value as {spark_t}), cast(0 as {spark_t}))"
    return (
        f"transform(map_entries(from_json({a[0]}, 'map<string,string>')), "
        f"e -> named_struct('key', e.key, "
        f"'value', {value}))"
    )


def _array_auc(a: list[str]) -> str:
    """arrayAUC(scores, labels): exact ROC AUC over one row's arrays via
    pair counting — Σ_pos (#neg below + ½·#neg tied) / (n_pos·n_neg),
    the average-rank formulation CH computes. O(n²) per row, fine for
    the per-row arrays this function exists for; NULL when either class
    is empty (CH returns nan there)."""
    if len(a) != 2:
        raise DialectError("arrayAUC takes (scores, labels)")
    pos = f"filter(zip_with({a[0]}, {a[1]}, (s, l) -> named_struct('s', s, 'l', l)), e -> cast(e.l as boolean))"
    neg = f"filter(zip_with({a[0]}, {a[1]}, (s, l) -> named_struct('s', s, 'l', l)), e -> NOT cast(e.l as boolean))"
    return (
        f"CASE WHEN size({pos}) = 0 OR size({neg}) = 0 "
        f"THEN cast(null as double) ELSE "
        f"aggregate({pos}, 0D, (acc, p) -> acc "
        f"+ size(filter({neg}, ne -> ne.s < p.s)) "
        f"+ 0.5D * size(filter({neg}, ne -> ne.s = p.s))) "
        f"/ (cast(size({pos}) as double) * size({neg})) END"
    )


def _agg_matrix(fn: str):
    """corrMatrix/covarSampMatrix/covarPopMatrix(x1..xk): the full k x k
    matrix as array<array<double>> of pairwise aggregates — CH returns
    exactly this shape; Spark's corr/covar kernels are the documented
    *Stable-alias convention (same merge formulas family)."""
    def rule(a: list[str]) -> str:
        if len(a) < 2:
            raise DialectError(f"{fn} matrix form needs >= 2 columns")
        rows = ", ".join(
            "array(" + ", ".join(f"{fn}({xi}, {xj})" for xj in a) + ")"
            for xi in a
        )
        return f"array({rows})"
    return rule


def _fill_split_zip(a: list[str]) -> tuple[str, str]:
    """Shared prep for the arrayFill/arraySplit family: returns (arr, zipped)
    where zipped pairs each element of the primary array with the lambda's
    verdict. CH's lambda sees (arr1[i]) or (arr1[i], arr2[i]) — the 1- and
    2-array forms; more arrays stay loud."""
    if len(a) == 2:
        return a[1], (
            f"zip_with({a[1]}, transform({a[1]}, {a[0]}), "
            f"(v, k) -> named_struct('v', v, 'k', k))"
        )
    if len(a) == 3:
        return a[1], (
            f"zip_with({a[1]}, zip_with({a[1]}, {a[2]}, {a[0]}), "
            f"(v, k) -> named_struct('v', v, 'k', k))"
        )
    raise DialectError(
        "arrayFill/arraySplit family: only the 1- and 2-array lambda "
        "forms translate"
    )


def _array_fill(a: list[str], rev: bool = False) -> str:
    """arrayFill(λ, arr): left-to-right scan replacing each element where
    λ is false with the carried last true-element (CH ArrayFill.cpp); the
    first element always stays. arrayReverseFill = the same fold over the
    reversed array, reversed back. O(n) fold per row (array concat makes
    it O(n²) copying for very long arrays — these are per-row arrays)."""
    if rev:
        a = list(a)
        a[1] = f"reverse({a[1]})"
        if len(a) == 3:
            a[2] = f"reverse({a[2]})"
    arr, zipped = _fill_split_zip(a)
    keep = ("CASE WHEN size(acc.o) = 0 OR cast(e.k as boolean) "
           "THEN e.v ELSE acc.p END")
    fold = (
        f"aggregate({zipped}, "
        f"named_struct('o', slice({arr}, 1, 0), "
        f"'p', try_element_at({arr}, 1)), "
        f"(acc, e) -> named_struct('o', concat(acc.o, array({keep})), "
        f"'p', {keep}), "
        f"acc -> acc.o)"
    )
    return f"reverse({fold})" if rev else fold


def _array_split(a: list[str], rev: bool = False) -> str:
    """arraySplit(λ, arr): cut on the LEFT of every element where λ is
    true (a true first element opens the first group, no empty group —
    CH's contract: arraySplit(x -> x = 1, [1,2,3,1,2,3]) = [[1,2,3],
    [1,2,3]]). arrayReverseSplit cuts on the RIGHT (the matching element
    CLOSES its group). Empty input yields [] on this shim."""
    arr, zipped = _fill_split_zip(a)
    empty_groups = f"slice(array(slice({arr}, 1, 0)), 1, 0)"
    if not rev:
        step = (
            "(acc, e) -> CASE WHEN cast(e.k as boolean) AND size(acc.cur) > 0 "
            "THEN named_struct('out', concat(acc.out, array(acc.cur)), "
            "'cur', array(e.v)) "
            "ELSE named_struct('out', acc.out, "
            "'cur', concat(acc.cur, array(e.v))) END"
        )
    else:
        step = (
            "(acc, e) -> CASE WHEN cast(e.k as boolean) "
            "THEN named_struct('out', concat(acc.out, "
            "array(concat(acc.cur, array(e.v)))), "
            f"'cur', slice({arr}, 1, 0)) "
            "ELSE named_struct('out', acc.out, "
            "'cur', concat(acc.cur, array(e.v))) END"
        )
    return (
        f"aggregate({zipped}, "
        f"named_struct('out', {empty_groups}, 'cur', slice({arr}, 1, 0)), "
        f"{step}, "
        f"acc -> CASE WHEN size(acc.cur) > 0 "
        f"THEN concat(acc.out, array(acc.cur)) ELSE acc.out END)"
    )


def _map_concat_first_wins(a: list[str]) -> str:
    """CH mapConcat keeps the FIRST occurrence of each key across the
    concatenated maps; Spark's map_concat either throws on duplicates or
    keeps the last (session policy), so rebuild from entries left to
    right, dropping keys already claimed by an earlier map."""
    out = a[0]
    for m in a[1:]:
        out = (
            f"map_from_entries(concat(map_entries({out}), "
            f"filter(map_entries({m}), "
            f"e -> NOT array_contains(map_keys({out}), e.key))))"
        )
    return out


# ---------------------------------------------------------------------------
# Round-10 wave: gcd/lcm, the n-gram distance family, and the IPv6 codecs —
# the highest-frequency previously-loud functions (VERDICT r9 gap #2). All
# pure JVM expressions (codegen, no Python workers).
# ---------------------------------------------------------------------------

def _gcd_expr(x: str, y: str) -> str:
    """Euclid as a bounded fold: 64-bit inputs converge in <= 91 steps
    (consecutive-Fibonacci worst case), so a fold over sequence(1, 95)
    with a converged no-op branch is an EXACT gcd — no iteration needed
    at the plan level. gcd(0, n) = n, gcd(0, 0) = 0, like std::gcd."""
    return (
        f"aggregate(sequence(1, 95), "
        f"named_struct('a', abs(cast({x} as bigint)), "
        f"'b', abs(cast({y} as bigint))), "
        f"(acc, i) -> CASE WHEN acc.b = 0 THEN acc "
        f"ELSE named_struct('a', acc.b, 'b', acc.a % acc.b) END, "
        f"acc -> acc.a)"
    )


def _lcm_rule(a: list[str]) -> str:
    """lcm(a, b) = |a| / gcd * |b| (divide FIRST so the product overflows
    only when the true lcm does — same contract as CH/std::lcm)."""
    if len(a) != 2:
        raise DialectError("lcm takes exactly 2 arguments")
    return (
        f"CASE WHEN ({a[0]}) = 0 OR ({a[1]}) = 0 THEN 0L ELSE "
        f"(abs(cast({a[0]} as bigint)) div {_gcd_expr(a[0], a[1])}) "
        f"* abs(cast({a[1]} as bigint)) END"
    )


def _ngram_multiset(s: str, n: int, chars: bool, ci: bool) -> str:
    """The multiset of n-grams of ``s`` as an array. Byte-level over the
    UTF-8 encoding for the base functions (CH hashes 4-byte windows);
    character-level for the *UTF8 variants (CH uses 3 code-point grams
    there). CaseInsensitive variants lowercase first."""
    src = f"lower({s})" if ci else f"({s})"
    if chars:
        length, body = "length(ngs)", f"substr(ngs, i, {n})"
        empty = "cast(array() as array<string>)"
    else:
        src = f"encode({src}, 'UTF-8')"
        length, body = "octet_length(ngs)", f"substring(ngs, i, {n})"
        empty = "cast(array() as array<binary>)"
    # sequence(1, k) flips to a DESCENDING range when k < 1 — guard it.
    # The source is bound once to `ngs`: written inside the per-gram
    # lambda it was re-evaluated (lowercased, re-encoded) for every gram.
    return (
        f"element_at(transform(array({src}), ngs -> "
        f"CASE WHEN {length} < {n} THEN {empty} "
        f"ELSE transform(sequence(1, {length} - {n - 1}), i -> {body}) END), 1)"
    )


def _ngram_distance(n: int, chars: bool, ci: bool):
    """ngramDistance family: |A symdiff B| / (|A| + |B|) over n-gram
    MULTISETS (CH's documented formula), 0 when both gram sets are empty.
    O(|A|·|B|) per row — strings, not tables, so bounded."""

    def rule(a: list[str]) -> str:
        if len(a) != 2:
            raise DialectError("ngramDistance takes (haystack, needle)")
        A = _ngram_multiset(a[0], n, chars, ci)
        B = _ngram_multiset(a[1], n, chars, ci)
        return (
            f"element_at(transform(array(named_struct('a', {A}, 'b', {B})), "
            f"g -> CASE WHEN size(g.a) + size(g.b) = 0 THEN cast(0 as float) "
            f"ELSE cast(aggregate(array_distinct(concat(g.a, g.b)), 0, "
            f"(acc, x) -> acc + abs(size(filter(g.a, v -> v = x)) "
            f"- size(filter(g.b, v -> v = x)))) "
            f"/ cast(size(g.a) + size(g.b) as double) as float) END), 1)"
        )

    return rule


def _ngram_search(n: int, chars: bool, ci: bool):
    """ngramSearch family: multiset |needle ∩ haystack| / |needle| (CH's
    documented non-symmetric form — 1 means every needle gram appears),
    0 when the needle has no n-grams."""

    def rule(a: list[str]) -> str:
        if len(a) != 2:
            raise DialectError("ngramSearch takes (haystack, needle)")
        H = _ngram_multiset(a[0], n, chars, ci)
        N = _ngram_multiset(a[1], n, chars, ci)
        return (
            f"element_at(transform(array(named_struct('h', {H}, 'n', {N})), "
            f"g -> CASE WHEN size(g.n) = 0 THEN cast(0 as float) "
            f"ELSE cast(aggregate(array_distinct(g.n), 0, "
            f"(acc, x) -> acc + least(size(filter(g.h, v -> v = x)), "
            f"size(filter(g.n, v -> v = x)))) "
            f"/ cast(size(g.n) as double) as float) END), 1)"
        )

    return rule


# IPv6 grammar pieces. The v4-tail rewrite below reduces every embedded-
# IPv4 spelling to the pure-hex grammar, so ONE regex set suffices.
_V4_OCTET = "(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])"
_V4_RE = f"({_V4_OCTET}\\\\.){{3}}{_V4_OCTET}"
_V6_HEX_RE = (
    "^("
    "(H:){7}H"      # full 8-group form
    "|(H:){1,7}:"   # trailing ::
    "|(H:){1,6}:H"
    "|(H:){1,5}(:H){1,2}"
    "|(H:){1,4}(:H){1,3}"
    "|(H:){1,3}(:H){1,4}"
    "|(H:){1,2}(:H){1,5}"
    "|H:(:H){1,6}"
    "|:((:H){1,7}|:)"  # leading :: (including bare ::)
    ")$"
).replace("H", "[0-9A-Fa-f]{1,4}")


def _ipv6_valid(s: str) -> str:
    """Boolean: ``s`` is a textual IPv6 address. Embedded-IPv4 tails are
    validated separately, then replaced by a 2-group placeholder so the
    pure-hex grammar enforces the group arithmetic."""
    tail = f"substring_index({s}, ':', -1)"
    pfx = f"substr({s}, 1, length({s}) - length({tail}))"
    return (
        f"(CASE WHEN {s} rlike '\\\\.' THEN "
        f"({tail} rlike '^{_V4_RE}$') AND ({s} like '%:%') "
        f"AND (concat({pfx}, '0:0') rlike '{_V6_HEX_RE}') "
        f"ELSE {s} rlike '{_V6_HEX_RE}' END)"
    )


def _ipv6_parse(s: str) -> str:
    """Parse a VALID IPv6 string (or bare IPv4, which maps to
    ::ffff:a.b.c.d like CH) to its 16-byte binary form. The dotted tail
    is rewritten to two hex groups, then `::` expands to the missing
    zero groups; transform(array(...), t -> ...) binds the normalized
    string once so the expression stays readable."""
    tail = f"substring_index({s}, ':', -1)"
    pfx = f"substr({s}, 1, length({s}) - length({tail}))"

    def octet(i: int) -> str:
        return f"cast(element_at(split({tail}, '\\\\.'), {i}) as int)"

    v4pair = (
        f"concat(lpad(hex({octet(1)} * 256 + {octet(2)}), 4, '0'), ':', "
        f"lpad(hex({octet(3)} * 256 + {octet(4)}), 4, '0'))"
    )
    s2 = (
        f"CASE WHEN {s} rlike '\\\\.' THEN "
        f"concat(CASE WHEN {s} like '%:%' THEN {pfx} ELSE '::ffff:' END, "
        f"{v4pair}) ELSE {s} END"
    )
    lparts = "filter(split(element_at(split(t, '::'), 1), ':'), x -> x != '')"
    rparts = "filter(split(element_at(split(t, '::'), 2), ':'), x -> x != '')"
    groups = (
        f"CASE WHEN t like '%::%' THEN concat({lparts}, "
        f"array_repeat('0', 8 - size({lparts}) - size({rparts})), {rparts}) "
        f"ELSE split(t, ':') END"
    )
    return (
        f"element_at(transform(array({s2}), t -> "
        f"unhex(array_join(transform({groups}, g -> lpad(g, 4, '0')), ''))), 1)"
    )


def _ipv6_string_to_num(a: list[str]) -> str:
    """IPv6StringToNum / toIPv6: string → binary(16). Bare IPv4 input
    maps to ::ffff:a.b.c.d (CH accepts it); invalid input aborts the
    query via raise_error — the same throw-on-bad-row contract as CH.
    The input expression is BOUND ONCE via a one-element transform —
    the validity + parse tree references it ~30 times, and these
    expressions are big enough to fall out of whole-stage codegen
    (no CSE in interpreted mode: unbound, sf0.1 ran minutes, not
    seconds)."""
    if len(a) != 1:
        raise DialectError("IPv6StringToNum takes one argument")
    s = f"({a[0]})"
    body = (
        f"CASE WHEN s6 IS NULL THEN NULL "
        f"WHEN {_ipv6_valid('s6')} OR (s6 rlike '^{_V4_RE}$') "
        f"THEN {_ipv6_parse('s6')} "
        f"ELSE raise_error(concat('IPv6StringToNum: invalid IPv6 string: ', "
        f"s6)) END"
    )
    return f"element_at(transform(array({s}), s6 -> {body}), 1)"


def _ipv6_string_to_num_or(default: "str | None"):
    """IPv6StringToNumOrNull / OrDefault (round 11): the throwing
    spelling's validity + parse tree with a non-throwing fallback — NULL,
    or the caller's default expression (CH's OrDefault takes the value of
    the result type). Same one-element-transform binding as the base
    rule."""

    def rule(a: list[str]) -> str:
        if default is None:
            if len(a) != 1:
                raise DialectError("IPv6StringToNumOrNull takes one argument")
            fb = "NULL"
        else:
            if len(a) != 2:
                raise DialectError(
                    "IPv6StringToNumOrDefault takes (s, default)"
                )
            fb = f"({a[1]})"
        s = f"({a[0]})"
        body = (
            f"CASE WHEN s6 IS NULL THEN NULL "
            f"WHEN {_ipv6_valid('s6')} OR (s6 rlike '^{_V4_RE}$') "
            f"THEN {_ipv6_parse('s6')} "
            f"ELSE {fb} END"
        )
        return f"element_at(transform(array({s}), s6 -> {body}), 1)"

    return rule


def _ipv6_num_to_string(a: list[str]) -> str:
    """IPv6NumToString: binary(16) → canonical text, inet_ntop-style —
    lowercase hex groups, the FIRST longest zero-run of length >= 2
    compressed to '::', and the two reachable IPv4-embedded forms
    ('::a.b.c.d' when groups 0-5 are zero and group 6 is nonzero;
    '::ffff:a.b.c.d' when groups 0-4 are zero and group 5 is 0xffff) —
    the formatter CH's formatIPv6 mirrors. Three nested one-element
    transform() bindings (w: the 8 group ints; st: the zero-run fold)
    keep every piece computed once."""
    if len(a) != 1:
        raise DialectError("IPv6NumToString takes one argument")
    b = f"({a[0]})"
    w_expr = (
        "transform(sequence(0, 7), i -> "
        "cast(conv(substr(lower(hex(b6)), i * 4 + 1, 4), 16, 10) as int))"
    )
    # Fold for the first maximal zero-run: (cur_base, cur_len, best_base,
    # best_len); strictly-greater update keeps the FIRST maximal run.
    run_fold = (
        "aggregate(sequence(0, 7), "
        "named_struct('cb', -1, 'cl', 0, 'bb', -1, 'bl', 0), "
        "(acc, i) -> CASE WHEN element_at(w, i + 1) = 0 THEN named_struct("
        "'cb', CASE WHEN acc.cl = 0 THEN i ELSE acc.cb END, "
        "'cl', acc.cl + 1, "
        "'bb', CASE WHEN acc.cl + 1 > acc.bl THEN "
        "(CASE WHEN acc.cl = 0 THEN i ELSE acc.cb END) ELSE acc.bb END, "
        "'bl', greatest(acc.cl + 1, acc.bl)) "
        "ELSE named_struct('cb', -1, 'cl', 0, 'bb', acc.bb, 'bl', acc.bl) "
        "END)"
    )
    in_run = "st.bl >= 2 AND i >= st.bb AND i < st.bb + st.bl"
    v4form = (
        "st.bb = 0 AND (st.bl = 6 OR (st.bl = 5 AND "
        "element_at(w, 6) = 65535))"
    )
    v4txt = (
        "concat(cast(element_at(w, 7) div 256 as string), '.', "
        "cast(element_at(w, 7) % 256 as string), '.', "
        "cast(element_at(w, 8) div 256 as string), '.', "
        "cast(element_at(w, 8) % 256 as string))"
    )
    emit = (
        f"aggregate(sequence(0, 7), '', (acc, i) -> CASE "
        f"WHEN {in_run} THEN "
        f"CASE WHEN i = st.bb THEN concat(acc, ':') ELSE acc END "
        f"WHEN ({v4form}) AND i = 7 THEN acc "
        f"WHEN ({v4form}) AND i = 6 THEN "
        f"concat(acc, CASE WHEN i = 0 THEN '' ELSE ':' END, {v4txt}) "
        f"ELSE concat(acc, CASE WHEN i = 0 THEN '' ELSE ':' END, "
        f"lower(hex(element_at(w, i + 1)))) END)"
    )
    closed = (
        f"CASE WHEN st.bl >= 2 AND st.bb + st.bl = 8 "
        f"THEN concat({emit}, ':') ELSE {emit} END"
    )
    # Bind the (possibly huge, e.g. a toIPv6(...) chain) input once:
    # without this the 16-byte expression re-evaluates ~10x per row and
    # the composed expression falls out of codegen (no CSE).
    return (
        f"element_at(transform(array({b}), b6 -> "
        f"CASE WHEN b6 IS NULL THEN NULL "
        f"WHEN octet_length(b6) != 16 THEN "
        f"raise_error('IPv6NumToString: input must be 16 bytes') "
        f"ELSE element_at(transform(array({w_expr}), w -> "
        f"element_at(transform(array({run_fold}), st -> {closed}), 1)), 1) "
        f"END), 1)"
    )


# ---------------------------------------------------------------------------
# base58 / punycode codecs (round 11) — pure fixed-alphabet algorithms in the
# same portability class as the IPv6 codecs: SQL folds over bounded
# sequences, no UDF, no environment dependence. base58 is Bitcoin-alphabet
# big-integer base conversion over the UTF-8 bytes; punycode is RFC 3492
# bootstring with the encoder reformulated as a fold over the
# (codepoint, index)-sorted insertion sequence (each emission's delta is a
# closed-form count over the codepoint array — no (n, i) state scan).
# ---------------------------------------------------------------------------

_B58_ALPHA = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_B58_CAP = 1024  # bytes; the conversion fold is O(len²) — keys/hashes only
_PUNY_ALPHA = "abcdefghijklmnopqrstuvwxyz0123456789"
_PUNY_CAP = 512  # code points; punycode's domain is DNS labels (≤63)


def _base58_encode(a: list[str]) -> str:
    """base58Encode(s): Bitcoin-alphabet encoding of the UTF-8 bytes.
    Big-endian base-256 digit array, one divide-by-58 fold per output
    character (quotient re-trimmed each pass so work shrinks as the
    number does); leading 0x00 bytes map to leading '1's."""
    if len(a) != 1:
        raise DialectError("base58Encode takes one argument")
    # one divide-by-58 pass over the big-endian digit array
    divpass = (
        "aggregate(acc.arr, "
        "named_struct('r', 0, 'q', cast(array() as array<int>)), "
        "(st, d) -> named_struct('r', pmod(st.r * 256 + d, 58), "
        "'q', concat(st.q, array(cast((st.r * 256 + d) div 58 as int)))))"
    )
    trim_q = (
        "slice(dv.q, coalesce(try_element_at(filter(sequence(1, "
        "size(dv.q)), i -> element_at(dv.q, i) != 0), 1), size(dv.q) + 1), "
        "size(dv.q))"
    )
    step = (
        f"element_at(transform(array({divpass}), dv -> named_struct("
        f"'arr', {trim_q}, "
        f"'out', concat(substr('{_B58_ALPHA}', dv.r + 1, 1), acc.out))), 1)"
    )
    fold = (
        f"aggregate(sequence(1, octet_length(s58) * 7 div 5 + 1), "
        f"named_struct('arr', slice(b0, f0, size(b0)), 'out', ''), "
        f"(acc, pass) -> CASE WHEN size(acc.arr) = 0 THEN acc "
        f"ELSE {step} END).out"
    )
    bytes_ = (
        "transform(sequence(1, octet_length(s58)), i -> "
        "cast(conv(substr(hex(encode(s58, 'UTF-8')), i * 2 - 1, 2), "
        "16, 10) as int))"
    )
    fnz0 = (
        "coalesce(try_element_at(filter(sequence(1, size(b0)), "
        "i -> element_at(b0, i) != 0), 1), size(b0) + 1)"
    )
    body = (
        f"element_at(transform(array({bytes_}), b0 -> "
        f"element_at(transform(array({fnz0}), f0 -> "
        f"concat(repeat('1', f0 - 1), {fold})), 1)), 1)"
    )
    return (
        f"element_at(transform(array(({a[0]})), s58 -> "
        f"CASE WHEN s58 IS NULL THEN NULL "
        f"WHEN octet_length(s58) = 0 THEN '' "
        f"WHEN octet_length(s58) > {_B58_CAP} THEN "
        f"raise_error('base58Encode: input exceeds {_B58_CAP} bytes — "
        f"the base-conversion fold is quadratic; base58 is for "
        f"keys/hashes, use base64Encode for payloads') "
        f"ELSE {body} END), 1)"
    )


def _base58_decode(try_variant: bool):
    """base58Decode / tryBase58Decode(s): inverse conversion — per input
    character one multiply-by-58-and-add carry pass over the little-endian
    byte array (residual carry < 58 ⇒ at most one appended byte); leading
    '1's restore leading 0x00 bytes. Invalid characters raise (CH throws);
    the try variant returns '' like CH."""
    name = "tryBase58Decode" if try_variant else "base58Decode"

    def rule(a: list[str]) -> str:
        if len(a) != 1:
            raise DialectError(f"{name} takes one argument")
        mulpass = (
            "aggregate(reverse(acc), "
            "named_struct('c', v, 'o', cast(array() as array<int>)), "
            "(st, d) -> named_struct('c', cast((d * 58 + st.c) div 256 "
            "as int), 'o', concat(st.o, array(pmod(d * 58 + st.c, 256)))))"
        )
        fold = (
            f"aggregate(vs, cast(array() as array<int>), (acc, v) -> "
            f"element_at(transform(array({mulpass}), m -> "
            f"reverse(CASE WHEN m.c > 0 THEN concat(m.o, array(m.c)) "
            f"ELSE m.o END)), 1))"
        )
        hexstr = (
            f"concat(repeat('00', length(s58) - "
            f"length(regexp_replace(s58, '^1*', ''))), "
            f"array_join(transform({fold}, b -> lpad(hex(b), 2, '0')), ''))"
        )
        bad = "exists(vs, v -> v < 0)"
        on_bad = (
            "''" if try_variant else
            f"raise_error(concat('{name}: invalid base58 character in: '"
            f", s58))"
        )
        vals = f"transform(split(s58, ''), c -> instr('{_B58_ALPHA}', c) - 1)"
        body = (
            f"element_at(transform(array({vals}), vs -> "
            f"CASE WHEN {bad} THEN {on_bad} "
            f"ELSE decode(unhex({hexstr}), 'UTF-8') END), 1)"
        )
        return (
            f"element_at(transform(array(({a[0]})), s58 -> "
            f"CASE WHEN s58 IS NULL THEN NULL "
            f"WHEN length(s58) = 0 THEN '' "
            f"WHEN length(s58) > {_B58_CAP} THEN "
            f"raise_error('{name}: input exceeds {_B58_CAP} characters') "
            f"ELSE {body} END), 1)"
        )

    return rule


def _puny_adapt(delta: str, numpoints: str, first: str) -> str:
    """RFC 3492 adapt() as SQL: two divisions, then the ÷35 halving loop
    as a bounded fold (12 iterations covers any 64-bit delta)."""
    d1 = (
        f"element_at(transform(array(({delta}) div "
        f"(CASE WHEN {first} THEN 700 ELSE 2 END)), d0 -> "
        f"d0 + d0 div ({numpoints})), 1)"
    )
    return (
        f"element_at(transform(array(aggregate(sequence(1, 12), "
        f"named_struct('d', {d1}, 'k', 0), "
        f"(ad, hv) -> CASE WHEN ad.d > 455 THEN "
        f"named_struct('d', ad.d div 35, 'k', ad.k + 36) ELSE ad END)), "
        f"ab -> ab.k + (36 * ab.d) div (ab.d + 38)), 1)"
    )


def _puny_varint(delta: str, bias: str) -> str:
    """Generalized variable-length integer of ``delta`` under ``bias``
    (RFC 3492 §6.3 encoder inner loop) as a bounded fold: 16 digits cover
    delta < 35^15 — far past any string the {cap}-codepoint gate admits."""
    return (
        f"aggregate(sequence(1, 16), "
        f"named_struct('q', cast(({delta}) as bigint), 'done', false, "
        f"'o', ''), "
        f"(vi, j) -> CASE WHEN vi.done THEN vi ELSE "
        f"element_at(transform(array(greatest(1, least(26, "
        f"j * 36 - ({bias})))), t -> "
        f"CASE WHEN vi.q < t THEN named_struct('q', cast(0 as bigint), "
        f"'done', true, "
        f"'o', concat(vi.o, substr('{_PUNY_ALPHA}', cast(vi.q as int) + 1, "
        f"1))) "
        f"ELSE named_struct('q', (vi.q - t) div (36 - t), 'done', false, "
        f"'o', concat(vi.o, substr('{_PUNY_ALPHA}', "
        f"cast(t + pmod(vi.q - t, 36 - t) as int) + 1, 1))) END), 1) "
        f"END).o"
    )


def _punycode_encode(a: list[str]) -> str:
    """punycodeEncode(s): RFC 3492 bootstring. The encoder's (n, i) state
    scan is reformulated closed-form: emissions happen in (codepoint,
    index)-sorted order, and each emission's delta is a count over the
    codepoint array —
      first:      (cp−128)·(h+1) + #{i < idx : ca[i] < cp}
      same pass:  #{pidx < i < idx : ca[i] < cp}
      new pass:   #{i > pidx : ca[i] < pcp} + 1 + (cp−pcp−1)·(h+1)
                  + #{i < idx : ca[i] < cp}
    — so the whole encode is ONE fold over the sorted non-basic pairs with
    a (h, bias, prev) struct accumulator, O(len) count work per emission.
    Verified against Python's built-in punycode codec (RFC reference
    implementation) in tests. Spark's split(s, '') is codepoint-based
    (probed: non-BMP chars arrive whole), so supplementary planes work."""
    if len(a) != 1:
        raise DialectError("punycodeEncode takes one argument")

    def cnt(cond: str) -> str:
        return (
            f"cast(size(filter(sequence(1, size(ca)), i -> {cond})) "
            f"as bigint)"
        )

    ca_i = "element_at(ca, i)"
    delta = (
        f"CASE WHEN st.first THEN "
        f"cast(p.cp - 128 as bigint) * (st.h + 1) + "
        + cnt(f"i < p.idx AND {ca_i} < p.cp")
        + f" WHEN p.cp = st.pcp THEN "
        + cnt(f"i > st.pidx AND i < p.idx AND {ca_i} < p.cp")
        + f" ELSE "
        + cnt(f"i > st.pidx AND {ca_i} < st.pcp")
        + f" + 1 + cast(p.cp - st.pcp - 1 as bigint) * (st.h + 1) + "
        + cnt(f"i < p.idx AND {ca_i} < p.cp")
        + " END"
    )
    step = (
        f"element_at(transform(array({delta}), dl -> named_struct("
        f"'h', st.h + 1, "
        f"'bias', {_puny_adapt('dl', 'st.h + 1', 'st.h = nb')}, "
        f"'pcp', p.cp, 'pidx', p.idx, 'first', false, "
        f"'o', concat(st.o, {_puny_varint('dl', 'st.bias')}))), 1)"
    )
    fold = (
        f"aggregate(ps, "
        f"named_struct('h', nb, 'bias', cast(72 as bigint), "
        f"'pcp', 0, 'pidx', 0, 'first', true, 'o', ''), "
        f"(st, p) -> {step}).o"
    )
    # nb: count of basic (< 128) code points; ps: sorted non-basic pairs.
    ps = (
        "array_sort(transform(filter(sequence(1, size(ca)), "
        "i -> element_at(ca, i) >= 128), "
        "i -> named_struct('cp', element_at(ca, i), 'idx', i)))"
    )
    basic = "concat_ws('', filter(split(sp, ''), c -> ascii(c) < 128))"
    body = (
        f"element_at(transform(array({ps}), ps -> "
        f"element_at(transform(array(cast(size(ca) - size(ps) as bigint)), "
        f"nb -> CASE "
        f"WHEN size(ps) = 0 THEN concat({basic}, '-') "
        f"WHEN nb > 0 THEN concat({basic}, '-', {fold}) "
        f"ELSE {fold} END), 1)), 1)"
    )
    return (
        f"element_at(transform(array(({a[0]})), sp -> "
        f"CASE WHEN sp IS NULL THEN NULL "
        f"WHEN length(sp) = 0 THEN '' "
        f"WHEN length(sp) > {_PUNY_CAP} THEN "
        f"raise_error('punycodeEncode: input exceeds {_PUNY_CAP} code "
        f"points — punycode is for DNS labels; encode per label') "
        f"ELSE element_at(transform(array("
        f"transform(split(sp, ''), c -> ascii(c))), ca -> {body}), 1) "
        f"END), 1)"
    )


def _punycode_decode(try_variant: bool):
    """punycodeDecode / tryPunycodeDecode(s): RFC 3492 decoder as ONE fold
    over the extended-part characters — the struct accumulator carries
    (i, n, bias, w, k, oldi, out, err) and each group-terminating digit
    performs the adapt + insert. Code points above the BMP are emitted as
    UTF-16BE surrogate pairs. Invalid digits, unterminated trailing
    groups, and out-of-range code points raise (CH throws); the try
    variant returns '' like CH."""
    name = "tryPunycodeDecode" if try_variant else "punycodeDecode"

    def rule(a: list[str]) -> str:
        if len(a) != 1:
            raise DialectError(f"{name} takes one argument")
        chr_ = (
            "CASE WHEN cp < 65536 THEN "
            "decode(unhex(lpad(hex(cp), 4, '0')), 'UTF-16BE') "
            "ELSE decode(unhex(concat("
            "lpad(hex(55296 + (cp - 65536) div 1024), 4, '0'), "
            "lpad(hex(56320 + pmod(cp - 65536, 1024)), 4, '0'))), "
            "'UTF-16BE') END"
        )
        # group termination: adapt, rescale n/i, insert, reset group state
        terminate = (
            f"element_at(transform(array(named_struct("
            f"'np', cast(length(st.o) + 1 as bigint), 'i2', st.i + d * st.w"
            f")), g -> "
            f"element_at(transform(array(named_struct("
            f"'cp', st.n + g.i2 div g.np, 'i3', pmod(g.i2, g.np))), x -> "
            f"CASE WHEN x.cp > 1114111 OR "
            f"(x.cp >= 55296 AND x.cp <= 57343) THEN "
            f"named_struct('i', cast(0 as bigint), 'n', cast(0 as bigint), "
            f"'bias', cast(0 as bigint), 'w', cast(1 as bigint), "
            f"'k', cast(36 as bigint), 'oldi', cast(0 as bigint), "
            f"'o', st.o, 'err', true, 'ingrp', false) "
            f"ELSE named_struct("
            f"'i', x.i3 + 1, 'n', x.cp, "
            f"'bias', {_puny_adapt('g.i2 - st.oldi', 'g.np', 'st.oldi = 0')}"
            f", 'w', cast(1 as bigint), 'k', cast(36 as bigint), "
            f"'oldi', x.i3 + 1, "
            f"'o', concat(substr(st.o, 1, cast(x.i3 as int)), "
            f"element_at(transform(array(cast(x.cp as int)), cp -> {chr_}), "
            f"1), substr(st.o, cast(x.i3 as int) + 1)), "
            f"'err', false, 'ingrp', false) END), 1)), 1)"
        )
        # Overflow latch (RFC 3492 §6.2 "fail on overflow"): a valid
        # code point needs i <= 0x10FFFF * (len+1) < 2^31, so any i or w
        # past 2^31 is already invalid — latch err BEFORE the next
        # multiply would overflow int64 under ANSI (a pure high-digit
        # run like '9'*25 never terminates a group and grows w by ~10x
        # per digit; Python's codec raises UnicodeError there, the try
        # variant must return '').
        accumulate = (
            "CASE WHEN st.w > 2147483648 OR st.i > 2147483648 THEN "
            "named_struct('i', cast(0 as bigint), 'n', cast(0 as bigint), "
            "'bias', cast(0 as bigint), 'w', cast(1 as bigint), "
            "'k', cast(36 as bigint), 'oldi', cast(0 as bigint), "
            "'o', st.o, 'err', true, 'ingrp', false) ELSE "
            "named_struct('i', st.i + d * st.w, 'n', st.n, 'bias', st.bias,"
            " 'w', st.w * (36 - t), 'k', st.k + 36, 'oldi', st.oldi, "
            "'o', st.o, 'err', false, 'ingrp', true) END"
        )
        step = (
            f"CASE WHEN st.err THEN st "
            f"WHEN d < 0 THEN named_struct('i', cast(0 as bigint), "
            f"'n', cast(0 as bigint), 'bias', cast(0 as bigint), "
            f"'w', cast(1 as bigint), 'k', cast(36 as bigint), "
            f"'oldi', cast(0 as bigint), 'o', st.o, 'err', true, "
            f"'ingrp', false) "
            f"WHEN d < t THEN {terminate} ELSE {accumulate} END"
        )
        fold = (
            f"aggregate(transform(filter(split(tl, ''), c -> c != ''), c -> "
            f"cast(instr('{_PUNY_ALPHA}', lower(c)) - 1 as bigint)), "
            f"named_struct('i', cast(0 as bigint), 'n', cast(128 as bigint)"
            f", 'bias', cast(72 as bigint), 'w', cast(1 as bigint), "
            f"'k', cast(36 as bigint), 'oldi', cast(0 as bigint), "
            f"'o', bs, 'err', false, 'ingrp', false), "
            f"(st, d) -> element_at(transform(array(greatest(cast(1 as "
            f"bigint), least(cast(26 as bigint), st.k - st.bias))), "
            f"t -> {step}), 1))"
        )
        on_bad = (
            "''" if try_variant else
            f"raise_error(concat('{name}: invalid punycode: ', sp))"
        )
        body = (
            f"element_at(transform(array({fold}), fr -> "
            f"CASE WHEN fr.err OR fr.ingrp THEN {on_bad} "
            f"ELSE fr.o END), 1)"
        )
        tail = "substring_index(sp, '-', -1)"
        basic = (
            f"CASE WHEN sp like '%-%' THEN "
            f"substr(sp, 1, length(sp) - length({tail}) - 1) ELSE '' END"
        )
        has_nonascii = "exists(split(sp, ''), c -> ascii(c) >= 128)"
        bad_input = (
            "''" if try_variant else
            f"raise_error(concat('{name}: non-ASCII input: ', sp))"
        )
        return (
            f"element_at(transform(array(({a[0]})), sp -> "
            f"CASE WHEN sp IS NULL THEN NULL "
            f"WHEN length(sp) = 0 THEN '' "
            f"WHEN length(sp) > {_PUNY_CAP} THEN "
            f"raise_error('{name}: input exceeds {_PUNY_CAP} characters') "
            f"WHEN {has_nonascii} THEN {bad_input} "
            f"ELSE element_at(transform("
            f"array(CASE WHEN sp like '%-%' THEN {tail} ELSE sp END), "
            f"tl -> element_at(transform(array({basic}), bs -> {body}), "
            f"1)), 1) END), 1)"
        )

    return rule


# ---------------------------------------------------------------------------
# normalizeQuery (round 11): the query-log fingerprint function — literals
# become '?', runs of comma-separated literals collapse to '?..', and
# value-suspect identifiers (more than two digits, or >= 36 bytes — UUID
# shaped) are masked like literals, per CH's documented contract. The
# "lexer-lite" is ONE character fold with a struct state machine: modes for
# single-quoted strings (backslash + '' escapes), back/double-quoted
# identifiers (verbatim), numeric literals (hex/exponent aware), and words.
# Spacing outside collapsed runs is preserved byte-for-byte.
# ---------------------------------------------------------------------------

_NQ_FIELDS = ("o", "b", "w", "d", "q", "m", "e", "p")
_NQ_WORDC = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_$"
)
_NQ_SEP = " ,\\t\\n\\r"


def _nq_st(src: str, **over) -> str:
    """named_struct over the normalizeQuery state, fields from ``src``
    except the overrides. Field types: o/b/w/p string, d/m int,
    q/e boolean. An ``h`` override appends the phase-1 char-consumed
    flag as a ninth field (absent from the accumulator type)."""
    h = over.pop("h", None)
    parts = []
    for f in _NQ_FIELDS:
        parts.append(f"'{f}', " + over.get(f, f"{src}.{f}"))
    if h is not None:
        parts.append(f"'h', {h}")
    return "named_struct(" + ", ".join(parts) + ")"


def _nq_emitq(src: str, **extra) -> str:
    """Emit a '?' literal with run collapsing: if the previous semantic
    emission was already '?' and only separators (buffered in b) came
    since, extend it to '?..' and drop the separators."""
    o = (
        f"CASE WHEN {src}.q THEN "
        f"(CASE WHEN right({src}.o, 2) = '..' THEN {src}.o "
        f"ELSE concat({src}.o, '..') END) "
        f"ELSE concat({src}.o, '?') END"
    )
    return _nq_st(src, o=o, b="''", q="true", **extra)


def _nq_wordend(src: str, **extra) -> str:
    """Close a word: value-suspect words mask like literals, plain words
    flush verbatim (buffered separators first)."""
    masked = _nq_emitq(src, w="''", d="0", **extra)
    plain = _nq_st(
        src, o=f"concat({src}.o, {src}.b, {src}.w)", b="''", w="''",
        d="0", q="false", **extra,
    )
    return (
        f"CASE WHEN {src}.d > 2 OR length({src}.w) >= 36 "
        f"THEN {masked} ELSE {plain} END"
    )


_GEOHASH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"
_UUID_RE = (
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
    "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)


def _geohash_encode(a: list[str]) -> str:
    """geohashEncode(longitude, latitude[, precision]) — the standard
    base32 bisection interleave (longitude first) as a per-character fold
    with a 5-bit inner fold (round-11 audit). Precision clamps to 1..12
    like CH; default 12."""
    if len(a) not in (2, 3):
        raise DialectError(
            "geohashEncode takes (longitude, latitude[, precision])"
        )
    prec = f"greatest(1, least(12, {a[2]}))" if len(a) == 3 else "12"
    bit = (
        "CASE WHEN st.ev THEN "
        "named_struct('cx', st.cx * 2 + CASE WHEN g.lng >= "
        "(st.lo + st.hi) / 2 THEN 1 ELSE 0 END, "
        "'lo', CASE WHEN g.lng >= (st.lo + st.hi) / 2 "
        "THEN (st.lo + st.hi) / 2 ELSE st.lo END, "
        "'hi', CASE WHEN g.lng >= (st.lo + st.hi) / 2 "
        "THEN st.hi ELSE (st.lo + st.hi) / 2 END, "
        "'lo2', st.lo2, 'hi2', st.hi2, 'ev', false) "
        "ELSE named_struct('cx', st.cx * 2 + CASE WHEN g.lat >= "
        "(st.lo2 + st.hi2) / 2 THEN 1 ELSE 0 END, "
        "'lo', st.lo, 'hi', st.hi, "
        "'lo2', CASE WHEN g.lat >= (st.lo2 + st.hi2) / 2 "
        "THEN (st.lo2 + st.hi2) / 2 ELSE st.lo2 END, "
        "'hi2', CASE WHEN g.lat >= (st.lo2 + st.hi2) / 2 "
        "THEN st.hi2 ELSE (st.lo2 + st.hi2) / 2 END, 'ev', true) END"
    )
    # outer state: bounds + even flag + output; inner fold packs 5 bits.
    ch = (
        f"aggregate(sequence(1, 5), "
        f"named_struct('cx', 0, 'lo', o.lo, 'hi', o.hi, "
        f"'lo2', o.lo2, 'hi2', o.hi2, 'ev', o.ev), "
        f"(st, b) -> {bit})"
    )
    step = (
        f"element_at(transform(array({ch}), w -> named_struct("
        f"'lo', w.lo, 'hi', w.hi, 'lo2', w.lo2, 'hi2', w.hi2, "
        f"'ev', w.ev, "
        f"'o', concat(o.o, substr('{_GEOHASH_ALPHA}', w.cx + 1, 1)))), 1)"
    )
    fold = (
        f"aggregate(sequence(1, cast(({prec}) as int)), "
        f"named_struct('lo', cast(-180 as double), "
        f"'hi', cast(180 as double), 'lo2', cast(-90 as double), "
        f"'hi2', cast(90 as double), 'ev', true, 'o', ''), "
        f"(o, p) -> {step}).o"
    )
    return (
        f"element_at(transform(array(named_struct("
        f"'lng', cast(({a[0]}) as double), "
        f"'lat', cast(({a[1]}) as double))), g -> {fold}), 1)"
    )


def _geohash_decode(a: list[str]) -> str:
    """geohashDecode(s) → (longitude, latitude) tuple (cell center) —
    the inverse bisection fold; digits are case-insensitive like CH."""
    if len(a) != 1:
        raise DialectError("geohashDecode takes one argument")
    bit = (
        "CASE WHEN st.ev THEN named_struct("
        "'lo', CASE WHEN (g.d div g.m) % 2 = 1 "
        "THEN (st.lo + st.hi) / 2 ELSE st.lo END, "
        "'hi', CASE WHEN (g.d div g.m) % 2 = 1 "
        "THEN st.hi ELSE (st.lo + st.hi) / 2 END, "
        "'lo2', st.lo2, 'hi2', st.hi2, 'ev', false) "
        "ELSE named_struct('lo', st.lo, 'hi', st.hi, "
        "'lo2', CASE WHEN (g.d div g.m) % 2 = 1 "
        "THEN (st.lo2 + st.hi2) / 2 ELSE st.lo2 END, "
        "'hi2', CASE WHEN (g.d div g.m) % 2 = 1 "
        "THEN st.hi2 ELSE (st.lo2 + st.hi2) / 2 END, 'ev', true) END"
    )
    chfold = (
        f"aggregate(transform(array(16, 8, 4, 2, 1), m -> "
        f"named_struct('d', cast(instr('{_GEOHASH_ALPHA}', lower(c)) - 1 "
        f"as int), 'm', m)), st0, (st, g) -> {bit})"
    )
    fold = (
        f"aggregate(filter(split(gh, ''), c -> c != ''), "
        f"named_struct('lo', cast(-180 as double), "
        f"'hi', cast(180 as double), 'lo2', cast(-90 as double), "
        f"'hi2', cast(90 as double), 'ev', true), "
        f"(st0, c) -> {chfold})"
    )
    return (
        f"element_at(transform(array(({a[0]})), gh -> "
        f"element_at(transform(array({fold}), fs -> named_struct("
        f"'_1', (fs.lo + fs.hi) / 2, '_2', (fs.lo2 + fs.hi2) / 2)), 1)), 1)"
    )


def _point_in_polygon(a: list[str]) -> str:
    """pointInPolygon((x, y), polygon) — standard even-odd ray casting as
    a fold over the polygon's edges (round-11 audit): for each edge whose
    y-span straddles the test point, toggle on a left-of-edge crossing.
    Polygon vertices are (x, y) tuples (Spark parses them as col1/col2
    structs); the closing edge wraps via i % n + 1. The divide is guarded
    by the straddle test (yi != yj there; AND short-circuits). Returns
    0/1 like CH; boundary points follow the even-odd convention. Holes
    (CH's extra polygon arguments) stay loud."""
    if len(a) != 2:
        raise DialectError(
            "pointInPolygon takes ((x, y), polygon) — hole polygons have "
            "no Spark mapping here; subtract hole tests explicitly"
        )
    edge = (
        "named_struct("
        "'xi', cast(element_at(pg, i).col1 as double), "
        "'yi', cast(element_at(pg, i).col2 as double), "
        "'xj', cast(element_at(pg, i % size(pg) + 1).col1 as double), "
        "'yj', cast(element_at(pg, i % size(pg) + 1).col2 as double))"
    )
    fold = (
        f"aggregate(sequence(1, size(pg)), false, (acc, i) -> "
        f"element_at(transform(array({edge}), e -> "
        f"CASE WHEN ((e.yi > cast(pp.col2 as double)) != "
        f"(e.yj > cast(pp.col2 as double))) AND "
        f"(cast(pp.col1 as double) < (e.xj - e.xi) * "
        f"(cast(pp.col2 as double) - e.yi) / (e.yj - e.yi) + e.xi) "
        f"THEN NOT acc ELSE acc END), 1))"
    )
    return (
        f"element_at(transform(array(({a[0]})), pp -> "
        f"element_at(transform(array(({a[1]})), pg -> "
        f"cast({fold} as int)), 1)), 1)"
    )


def _normalize_query(a: list[str], keep_names: bool = False) -> str:
    if len(a) != 1:
        raise DialectError("normalizeQuery takes one argument")
    bq, dq = chr(96), '\\"'
    wordc, sep = _NQ_WORDC, _NQ_SEP
    numc = "0123456789abcdefABCDEFxX."

    def wend(src, **kw):
        # KeepNames: identifiers always flush verbatim, only literals mask
        if keep_names:
            return _nq_st(
                src, o=f"concat({src}.o, {src}.b, {src}.w)", b="''",
                w="''", d="0", q="false", **kw,
            )
        return _nq_wordend(src, **kw)

    # phase 1: resolve the current mode against c; 'h' = char consumed.
    def ph1(src: str) -> str:
        in_num = (
            f"(instr('{numc}', c) > 0 OR "
            f"(instr('+-', c) > 0 AND instr('eEpP', {src}.p) > 0))"
        )
        return (
            f"CASE "
            # string body: escape pending / open escape / maybe-close
            f"WHEN {src}.m = 1 THEN (CASE "
            f"WHEN {src}.e THEN {_nq_st(src, e='false', h='true')} "
            f"WHEN c = '\\\\' THEN {_nq_st(src, e='true', h='true')} "
            f"WHEN c = '\\'' THEN {_nq_st(src, m='6', h='true')} "
            f"ELSE {_nq_st(src, h='true')} END) "
            # maybe-closed string: '' doubling re-enters, else emit '?'
            f"WHEN {src}.m = 6 THEN (CASE "
            f"WHEN c = '\\'' THEN {_nq_st(src, m='1', h='true')} "
            f"ELSE {_nq_emitq(src, m='0', h='false')} END) "
            # quoted identifiers: verbatim to the closing quote
            f"WHEN {src}.m = 2 THEN "
            f"{_nq_st(src, o=f'concat({src}.o, c)', m=f'CASE WHEN c = {chr(39)}{bq}{chr(39)} THEN 0 ELSE 2 END', h='true')} "
            f"WHEN {src}.m = 3 THEN "
            f"{_nq_st(src, o=f'concat({src}.o, c)', m=f'CASE WHEN c = {chr(39)}{dq}{chr(39)} THEN 0 ELSE 3 END', h='true')} "
            # number: continue or close-and-reprocess
            f"WHEN {src}.m = 4 THEN (CASE WHEN {in_num} "
            f"THEN {_nq_st(src, p='c', h='true')} "
            f"ELSE {_nq_emitq(src, m='0', p=chr(39)*2, h='false')} END) "
            # word: continue or close-and-reprocess
            f"WHEN {src}.m = 5 THEN (CASE "
            f"WHEN instr('{wordc}', c) > 0 THEN "
            + _nq_st(
                src, w=f"concat({src}.w, c)",
                d=(f"{src}.d + CASE WHEN instr('0123456789', c) > 0 "
                   f"THEN 1 ELSE 0 END"),
                h="true",
            )
            + f" ELSE {wend(src, m='0', h='false')} END) "
            f"ELSE {_nq_st(src, h='false')} END"
        )

    # phase 2: mode-0 dispatch of an unconsumed char.
    def ph2(src: str) -> str:
        flush = lambda m: _nq_st(
            src, o=f"concat({src}.o, {src}.b, c)", b="''", q="false", m=m
        )
        return (
            f"CASE "
            f"WHEN c = '\\'' THEN {_nq_st(src, m='1', e='false')} "
            f"WHEN instr('0123456789', c) > 0 THEN "
            f"{_nq_st(src, m='4', p='c')} "
            f"WHEN instr('{wordc[:52]}_', c) > 0 THEN "
            f"{_nq_st(src, m='5', w='c', d='0')} "
            f"WHEN c = '{bq}' THEN {flush('2')} "
            f"WHEN c = '{dq}' THEN {flush('3')} "
            f"WHEN instr('{sep}', c) > 0 THEN (CASE WHEN {src}.q "
            f"THEN {_nq_st(src, b=f'concat({src}.b, c)')} "
            f"ELSE {_nq_st(src, o=f'concat({src}.o, c)')} END) "
            f"ELSE {flush('0')} END"
        )

    init = (
        "named_struct('o', '', 'b', '', 'w', '', 'd', 0, 'q', false, "
        "'m', 0, 'e', false, 'p', '')"
    )
    step = (
        f"element_at(transform(array({ph1('st')}), s1 -> "
        f"CASE WHEN s1.h THEN {_nq_st('s1')} "
        f"ELSE {ph2('s1')} END), 1)"
    )
    fin = (
        f"element_at(transform(array("
        f"CASE WHEN fs.m IN (1, 6) THEN {_nq_emitq('fs', m='0')} "
        f"WHEN fs.m = 4 THEN {_nq_emitq('fs', m='0')} "
        f"WHEN fs.m = 5 THEN {wend('fs', m='0')} "
        f"ELSE {_nq_st('fs')} END), z -> concat(z.o, z.b)), 1)"
    )
    fold = (
        f"aggregate(filter(split(nq, ''), c -> c != ''), {init}, "
        f"(st, c) -> {step})"
    )
    return (
        f"element_at(transform(array(({a[0]})), nq -> "
        f"CASE WHEN nq IS NULL THEN NULL ELSE "
        f"element_at(transform(array({fold}), fs -> {fin}), 1) END), 1)"
    )


def _jaro_body() -> str:
    """Jaro similarity of ``p.s`` / ``p.t`` (the bound struct with ls, lt,
    and the match window w) as a pure SQL expression: the standard greedy
    window match as a fold over s's positions (flags array marks claimed
    t positions; first unclaimed in-window equal char wins), then integer
    half-transpositions. Edge contract (matches DuckDB's RapidFuzz-based
    jaro_similarity, verified empirically): either string empty → 0, no
    matches → 0. O(ls·lt) per row — strings, not tables."""
    fold = (
        "aggregate("
        "CASE WHEN p.ls = 0 THEN cast(array() as array<int>) "
        "ELSE sequence(1, p.ls) END, "
        "named_struct('flags', array_repeat(false, p.lt), "
        "'sm', cast(array() as array<string>), "
        "'js', cast(array() as array<int>)), "
        "(acc, i) -> element_at(transform(array("
        "CASE WHEN greatest(i - p.w, 1) > least(i + p.w, p.lt) "
        "THEN cast(array() as array<int>) "
        "ELSE filter(sequence(greatest(i - p.w, 1), least(i + p.w, p.lt)), "
        "j -> NOT element_at(acc.flags, j) "
        "AND substr(p.t, j, 1) = substr(p.s, i, 1)) END), "
        "cand -> CASE WHEN size(cand) = 0 THEN acc ELSE named_struct("
        "'flags', transform(sequence(1, p.lt), "
        "k -> element_at(acc.flags, k) OR k = element_at(cand, 1)), "
        "'sm', concat(acc.sm, array(substr(p.s, i, 1))), "
        "'js', concat(acc.js, array(element_at(cand, 1)))) END), 1))"
    )
    return (
        f"element_at(transform(array({fold}), r -> "
        "CASE WHEN size(r.js) = 0 THEN 0.0D "
        "ELSE element_at(transform(array(named_struct("
        "'m', cast(size(r.js) as double), "
        "'tr', cast((size(filter(sequence(1, size(r.js)), "
        "k -> element_at(r.sm, k) != "
        "substr(p.t, element_at(array_sort(r.js), k), 1))) div 2) "
        "as double))), "
        "q -> (q.m / p.ls + q.m / p.lt + (q.m - q.tr) / q.m) / 3.0D), 1) "
        "END), 1)"
    )


def _jaro_bind(a: list[str], body: str) -> str:
    s, t = f"({a[0]})", f"({a[1]})"
    return (
        f"element_at(transform(array(named_struct("
        f"'s', {s}, 't', {t}, 'ls', length({s}), 'lt', length({t}), "
        f"'w', cast(greatest(greatest(length({s}), length({t})) div 2 - 1, "
        f"0) as int))), "
        f"p -> {body}), 1)"
    )


def _jaro_similarity(a: list[str]) -> str:
    if len(a) != 2:
        raise DialectError("jaroSimilarity takes (s, t)")
    return _jaro_bind(a, _jaro_body())


def _jaro_winkler(a: list[str]) -> str:
    """Winkler boost over Jaro: jw = j + l·0.1·(1 − j) with l the common
    CONTIGUOUS prefix capped at 4 (the acc = k−1 fold guarantees
    contiguity), applied only when j exceeds the standard 0.7 boost
    threshold — the original Winkler rule, matching DuckDB's RapidFuzz
    implementation (verified empirically)."""
    if len(a) != 2:
        raise DialectError("jaroWinklerSimilarity takes (s, t)")
    prefix = (
        "aggregate(sequence(1, 4), 0, (acc, k) -> "
        "CASE WHEN acc = k - 1 AND k <= least(p.ls, p.lt) "
        "AND substr(p.s, k, 1) = substr(p.t, k, 1) THEN k ELSE acc END)"
    )
    body = (
        f"element_at(transform(array({_jaro_body()}), jv -> "
        f"CASE WHEN jv > 0.7D THEN jv + {prefix} * 0.1D * (1.0D - jv) "
        f"ELSE jv END), 1)"
    )
    return _jaro_bind(a, body)


# Self-describing formats only: column names survive the direct-path read.
# CSV/TSV direct reads would silently rename columns (_c0 vs CH's c1) and
# lose header handling — those stay loud with the formats.read route.
_DIRECT_READ_FMTS = {
    "parquet": "parquet",
    "orc": "orc",
    "jsoneachrow": "json",
    "ndjson": "json",
    "jsonlines": "json",
}


def _path_table_fn(name: str, max_plain_args: int):
    """file/s3/url(path[, format]) → Spark's direct-path FROM syntax
    (``parquet.`/path/x` ``). Only literal paths and self-describing
    formats translate; structure/credential arguments raise loud with
    the formats.read / spark.read route."""

    def rule(a: list[str]) -> str:
        if not a or not _is_str_lit(a[0].strip()):
            raise DialectError(
                f"{name}: only a literal path translates to Spark's "
                "direct-path FROM — use formats.read(spark, fmt, path) "
                "for dynamic paths"
            )
        path = _unquote(a[0].strip())
        scheme = path.split("://", 1)[0].lower() if "://" in path else ""
        if scheme in ("http", "https", "ftp"):
            # Spark ships no http/https/ftp Hadoop filesystem — the
            # direct-path FROM form would fail at runtime with an opaque
            # "No FileSystem for scheme" error. Fail at translate time
            # with the actual route instead.
            raise DialectError(
                f"{name}: Spark has no {scheme}:// filesystem — download "
                "the file first and read the local copy with "
                "formats.read(spark, fmt, path)"
            )
        if len(a) == 1:
            ext = path.rsplit(".", 1)[-1].lower()
            fmt = _DIRECT_READ_FMTS.get(
                {"json": "jsoneachrow", "jsonl": "jsonlines"}.get(ext, ext)
            )
            if fmt is None:
                raise DialectError(
                    f"{name}('{path}'): cannot infer a self-describing "
                    "format from the extension — pass an explicit "
                    "Parquet/ORC/JSONEachRow format argument"
                )
        elif len(a) <= max_plain_args and _is_str_lit(a[-1].strip()):
            key = _unquote(a[-1].strip()).lower()
            fmt = _DIRECT_READ_FMTS.get(key)
            if fmt is None:
                raise DialectError(
                    f"{name}: format {_unquote(a[-1].strip())!r} does not "
                    "survive a direct-path read (CSV/TSV lose header and "
                    "column names; structures need a schema) — use "
                    "formats.read(spark, fmt, path, schema=...)"
                )
        else:
            raise DialectError(
                f"{name}: credential/structure arguments have no SQL-level "
                "mapping — configure the filesystem on the SparkSession "
                "and use formats.read for schemas"
            )
        return f"{fmt}.`{path}`"

    return rule


def _format_row(newline: bool):
    """formatRow[NoNewline]('CSV'|'TSV'|'JSONEachRow', exprs…): row
    rendering via to_csv/to_json/concat_ws; CH appends a newline in the
    plain spelling."""

    def rule(a: list[str]) -> str:
        if len(a) < 2 or not _is_str_lit(a[0].strip()):
            raise DialectError(
                "formatRow needs a literal format name and 1+ expressions"
            )
        fmt = _unquote(a[0].strip()).lower()
        rest = ", ".join(a[1:])
        if fmt == "csv":
            body = f"to_csv(struct({rest}))"
        elif fmt in ("jsoneachrow", "ndjson", "jsonlines"):
            body = f"to_json(struct({rest}))"
        elif fmt in ("tsv", "tabseparated"):
            cols = ", ".join(f"cast({x} as string)" for x in a[1:])
            body = f"concat_ws('\\t', {cols})"
        else:
            raise DialectError(
                f"formatRow: format {fmt!r} has no row-string mapping "
                "(CSV, TSV, JSONEachRow translate)"
            )
        return f"concat({body}, '\\n')" if newline else body

    return rule


def _entropy_nats_fold(arr: str) -> str:
    """Shannon entropy in NATS of the value distribution in ``arr`` (a
    BOUND variable holding a SORTED array): run-length fold, H = ln n −
    Σ run·ln run / n. Base conversion is the caller's job (ratios of
    entropies, like Theil's U, are base-free)."""
    return (
        f"CASE WHEN size({arr}) = 0 THEN 0.0D ELSE "
        f"element_at(transform(array(aggregate(sequence(1, size({arr})), "
        f"named_struct('last_end', 0, 's', 0.0D), "
        f"(acc, i) -> CASE WHEN NOT (try_element_at({arr}, i + 1) <=> "
        f"element_at({arr}, i)) THEN named_struct('last_end', i, "
        f"'s', acc.s + (i - acc.last_end) * ln(i - acc.last_end)) "
        f"ELSE acc END)), "
        f"st -> ln(size({arr})) - st.s / size({arr})), 1) END"
    )


def _entropy_rule(a: list[str]) -> str:
    if len(a) != 1:
        raise DialectError("entropy takes one argument")
    return (
        f"element_at(transform(array(array_sort(collect_list({a[0]}))), "
        f"ent -> ({_entropy_nats_fold('ent')}) / ln(2.0D)), 1)"
    )


def _theils_u(a: list[str]) -> str:
    """theilsU(x, y): the uncertainty coefficient U(x|y) =
    (H(x) + H(y) − H(x,y)) / H(x) — three run-length entropy folds (in
    nats; the base cancels) over the sorted value / pair arrays. NULL
    when H(x) = 0 (a constant column carries no uncertainty to explain).
    Transcendental output — rank-only, like entropy. Rows with NULL in
    either column should be pre-filtered (collect_list drops NULL
    scalars but not NULL struct fields)."""
    if len(a) != 2:
        raise DialectError("theilsU takes (x, y)")
    return (
        "element_at(transform(array(named_struct("
        f"'ax', array_sort(collect_list({a[0]})), "
        f"'ay', array_sort(collect_list({a[1]})), "
        f"'axy', array_sort(collect_list(named_struct("
        f"'k1', {a[0]}, 'k2', {a[1]}))))), "
        "t -> element_at(transform(array(named_struct("
        f"'hx', {_entropy_nats_fold('t.ax')}, "
        f"'hy', {_entropy_nats_fold('t.ay')}, "
        f"'hxy', {_entropy_nats_fold('t.axy')})), "
        "h -> CASE WHEN h.hx = 0.0D THEN NULL "
        "ELSE (h.hx + h.hy - h.hxy) / h.hx END), 1)), 1)"
    )


def _sum_map_filtered(params: "Sequence[str] | None", args: list[str]) -> str:
    """sumMapFiltered(keys)(m | keys, values): keep only the listed keys,
    then the plain sumMap fold."""
    if not params or len(params) != 1:
        raise DialectError("sumMapFiltered takes a (keys array) parameter")
    if len(args) == 1:
        m = args[0]
    elif len(args) == 2:
        m = f"map_from_arrays({args[0]}, {args[1]})"
    else:
        raise DialectError(
            "sumMapFiltered takes a map column or (keys, values) arrays"
        )
    filtered = f"map_filter({m}, (k, v) -> array_contains({params[0]}, k))"
    return _map_combinator("+")([filtered])


def _ch_format(a: list[str]) -> str:
    """format('{} x {1}', args…) → format_string: bare {} become
    positional %s, indexed {N} become %(N+1)$s, doubled braces are
    literals, and pre-existing % is escaped. Literal patterns only."""
    if not a or not _is_str_lit(a[0].strip()):
        raise DialectError(
            "format needs a literal pattern (dynamic patterns: build with "
            "concat / format_string directly)"
        )
    pat = _unquote(a[0].strip()).replace("%", "%%")
    pat = pat.replace("{{", "\x00").replace("}}", "\x01")
    pat = re.sub(r"\{(\d+)\}", lambda m: f"%{int(m.group(1)) + 1}$s", pat)
    pat = pat.replace("{}", "%s")
    pat = pat.replace("\x00", "{").replace("\x01", "}")
    lit = "'" + pat.replace("'", "''") + "'"
    rest = ", ".join(a[1:])
    return f"format_string({lit}{', ' if rest else ''}{rest})"


def _replace_regexp_one(a: list[str]) -> str:
    """replaceRegexpOne(s, pat, repl): replace only the FIRST match —
    Spark's regexp_replace is replace-all. Splice: prefix up to
    regexp_instr's first-match position, the replacement applied to the
    matched text alone (pattern re-anchored with a non-capturing wrap so
    backreferences keep their numbering), then the suffix."""
    if len(a) != 3:
        raise DialectError("replaceRegexpOne takes (s, pattern, replacement)")
    # CH backreferences are re2's \1; Java's are $1 (same literal rewrite
    # replaceRegexpAll applies).
    if _is_str_lit(a[2]):
        a = [a[0], a[1],
             "'" + re.sub(r"\\(\d)", r"$\1", _unquote(a[2]))
             .replace("'", "''") + "'"]
    body = (
        "CASE WHEN rx.s IS NULL THEN NULL "
        "WHEN regexp_instr(rx.s, rx.p) = 0 THEN rx.s "
        "ELSE concat("
        "substr(rx.s, 1, regexp_instr(rx.s, rx.p) - 1), "
        "regexp_replace(regexp_extract(rx.s, rx.p, 0), "
        "concat('^(?:', rx.p, ')$'), rx.r), "
        "substr(rx.s, regexp_instr(rx.s, rx.p) "
        "+ length(regexp_extract(rx.s, rx.p, 0)))) END"
    )
    return (
        f"element_at(transform(array(named_struct("
        f"'s', ({a[0]}), 'p', ({a[1]}), 'r', ({a[2]}))), rx -> {body}), 1)"
    )


def _array_levenshtein(a: list[str]) -> str:
    """arrayLevenshteinDistance(x, y): plain Levenshtein DP over array
    elements (null-safe equality), one row carried in the fold state —
    O(|x|·|y|) per row."""
    if len(a) != 2:
        raise DialectError("arrayLevenshteinDistance takes (x, y)")
    inner = (
        "aggregate("
        "CASE WHEN p.m = 0 THEN cast(array() as array<int>) "
        "ELSE sequence(1, p.m) END, "
        "array(i), "
        "(row, j) -> concat(row, array(least("
        "element_at(prev, j + 1) + 1, "
        "element_at(row, j) + 1, "
        "element_at(prev, j) + (CASE WHEN element_at(p.x, i) <=> "
        "element_at(p.y, j) THEN 0 ELSE 1 END)))))"
    )
    fold = (
        "aggregate("
        "CASE WHEN p.n = 0 THEN cast(array() as array<int>) "
        "ELSE sequence(1, p.n) END, "
        "transform(sequence(0, p.m), j -> j), "
        f"(prev, i) -> {inner}, "
        "prev -> element_at(prev, p.m + 1))"
    )
    return (
        f"element_at(transform(array(named_struct("
        f"'x', ({a[0]}), 'y', ({a[1]}), "
        f"'n', size(({a[0]})), 'm', size(({a[1]})))), "
        f"p -> {fold}), 1)"
    )


def _damerau_levenshtein(a: list[str]) -> str:
    """TRUE (unrestricted) Damerau–Levenshtein — the distance-with-
    adjacent-transpositions DP (Wikipedia's da/db formulation), matching
    DuckDB's RapidFuzz-based damerau_levenshtein (verified: 'CA'→'ABC'
    is 2 here where the restricted OSA variant would say 3). The full
    matrix is carried in the fold state because the transposition term
    d[k−1][l−1] reaches arbitrarily far back. O(ls·lt) cells per row —
    strings, not tables; use operators/fuzzy.py for joins."""
    if len(a) != 2:
        raise DialectError("damerauLevenshteinDistance takes (s, t)")
    s, t = f"({a[0]})", f"({a[1]})"
    inner = (
        "aggregate("
        "CASE WHEN p.lt = 0 THEN cast(array() as array<int>) "
        "ELSE sequence(1, p.lt) END, "
        "named_struct('row', concat(array(p.md), array(i)), 'db', 0), "
        "(acc2, j) -> element_at(transform(array(named_struct("
        "'k', coalesce(try_element_at(acc.da, substr(p.t, j, 1)), 0), "
        "'l', acc2.db, "
        "'cost', CASE WHEN substr(p.s, i, 1) = substr(p.t, j, 1) "
        "THEN 0 ELSE 1 END)), "
        "v -> named_struct("
        "'row', concat(acc2.row, array(least("
        "element_at(element_at(acc.m, i + 1), j + 1) + v.cost, "
        "element_at(acc2.row, j + 1) + 1, "
        "element_at(element_at(acc.m, i + 1), j + 2) + 1, "
        "element_at(element_at(acc.m, v.k + 1), v.l + 1) "
        "+ (i - v.k - 1) + 1 + (j - v.l - 1)))), "
        "'db', CASE WHEN v.cost = 0 THEN j ELSE acc2.db END)), 1))"
    )
    fold = (
        "aggregate("
        "CASE WHEN p.ls = 0 THEN cast(array() as array<int>) "
        "ELSE sequence(1, p.ls) END, "
        "named_struct("
        "'m', array(array_repeat(p.md, p.lt + 2), "
        "concat(array(p.md), transform(sequence(0, p.lt), j -> j))), "
        "'da', map_from_arrays(cast(array() as array<string>), "
        "cast(array() as array<int>))), "
        f"(acc, i) -> element_at(transform(array({inner}), "
        "r -> named_struct("
        "'m', concat(acc.m, array(r.row)), "
        "'da', map_from_entries(concat("
        "filter(map_entries(acc.da), e -> e.key != substr(p.s, i, 1)), "
        "array(named_struct('key', substr(p.s, i, 1), 'value', i)))))), 1), "
        "acc -> element_at(element_at(acc.m, p.ls + 2), p.lt + 2))"
    )
    return (
        f"CASE WHEN {s} IS NULL OR {t} IS NULL THEN NULL ELSE "
        f"element_at(transform(array(named_struct("
        f"'s', {s}, 't', {t}, 'ls', length({s}), 'lt', length({t}), "
        f"'md', length({s}) + length({t}))), "
        f"p -> {fold}), 1) END"
    )


RULES: dict[str, Callable[[list[str]], str]] = {
    # -- date/time ---------------------------------------------------------
    "toDate": _fn("to_date"),
    "toDate32": _fn("to_date"),
    "toDateTime": _fn("to_timestamp"),
    "toDateTime64": lambda a: f"to_timestamp({a[0]})",
    "toStartOfYear": _trunc("year"),
    "toStartOfQuarter": _trunc("quarter"),
    "toStartOfMonth": _trunc("month"),
    # CH default mode 0 starts weeks on SUNDAY (dayofweek: Sunday=1);
    # modes 1/3 are Monday-start = Spark's date_trunc('week'). Returns Date
    # like CH. Mode must be a literal — it picks the expression shape.
    "toStartOfWeek": _to_start_of_week,
    "toMonday": _tpl("to_date(date_trunc('week', {0}))"),
    "toStartOfDay": _trunc("day"),
    "toStartOfHour": _trunc("hour"),
    "toStartOfMinute": _trunc("minute"),
    "toStartOfSecond": _trunc("second"),
    "toStartOfFiveMinutes": _time_floor(300),
    "toStartOfTenMinutes": _time_floor(600),
    "toStartOfFifteenMinutes": _time_floor(900),
    "toYear": _fn("year"),
    "toQuarter": _fn("quarter"),
    "toMonth": _fn("month"),
    "toDayOfMonth": _fn("day"),
    "toDayOfYear": _fn("dayofyear"),
    "toDayOfWeek": _tpl("(((dayofweek({0}) + 5) % 7) + 1)"),  # Monday=1
    "toHour": _fn("hour"),
    "toMinute": _fn("minute"),
    "toSecond": _fn("second"),
    "toYYYYMM": _tpl("cast(date_format({0}, 'yyyyMM') as int)"),
    "toYYYYMMDD": _tpl("cast(date_format({0}, 'yyyyMMdd') as int)"),
    "toUnixTimestamp": _fn("unix_timestamp"),
    "fromUnixTimestamp": _fn("from_unixtime"),
    "toISOWeek": _fn("weekofyear"),
    "toWeek": _to_week,
    # ISO week-numbering year = calendar year of the ISO week's THURSDAY
    # (Monday-truncate + 3 days). year(date_trunc('week', x)) alone is wrong
    # for dates in weeks straddling a year boundary: 2026-01-01 lies in ISO
    # week 1 of 2026 but its Monday is 2025-12-29.
    "toISOYear": _tpl("year(date_add(date_trunc('week', {0}), 3))"),
    "toLastDayOfMonth": _fn("last_day"),
    "monthName": _tpl("date_format({0}, 'MMMM')"),
    "toDaysSinceYearZero": _tpl("(datediff({0}, DATE '1970-01-01') + 719528)"),
    "toTime": _tpl(
        "to_timestamp(concat('1970-01-02 ', date_format({0}, 'HH:mm:ss')))"
    ),
    "timeSlot": _time_floor(1800),
    "toStartOfInterval": _to_start_of_interval,
    "now": _fn("now"),
    "today": lambda a: "current_date()",
    "yesterday": lambda a: "date_sub(current_date(), 1)",
    "age": _date_diff,
    "addYears": _timestampadd("YEAR"),
    "addQuarters": _timestampadd("QUARTER"),
    "addMonths": _fn("add_months"),
    "addWeeks": _timestampadd("WEEK"),
    "addDays": _fn("date_add"),
    "addHours": _timestampadd("HOUR"),
    "addMinutes": _timestampadd("MINUTE"),
    "addSeconds": _timestampadd("SECOND"),
    "subtractDays": _fn("date_sub"),
    "subtractYears": lambda a: f"timestampadd(YEAR, -({a[1]}), {a[0]})",
    "subtractQuarters": lambda a: f"timestampadd(QUARTER, -({a[1]}), {a[0]})",
    "subtractMonths": lambda a: f"add_months({a[0]}, -({a[1]}))",
    "subtractWeeks": lambda a: f"timestampadd(WEEK, -({a[1]}), {a[0]})",
    "subtractHours": lambda a: f"timestampadd(HOUR, -({a[1]}), {a[0]})",
    "subtractMinutes": lambda a: f"timestampadd(MINUTE, -({a[1]}), {a[0]})",
    "subtractSeconds": lambda a: f"timestampadd(SECOND, -({a[1]}), {a[0]})",
    # CH dateAdd/dateSub(unit, n, ts): unit is a bare keyword — pass it to
    # Spark's timestampadd verbatim (same vocabulary).
    "dateAdd": lambda a: f"timestampadd({a[0]}, {a[1]}, {a[2]})",
    "dateSub": lambda a: f"timestampadd({a[0]}, -({a[1]}), {a[2]})",
    "dateDiff": _date_diff,
    "date_diff": _date_diff,
    "formatDateTime": _format_datetime,
    # -- type conversions --------------------------------------------------
    "toInt8": _cast("int"), "toInt16": _cast("int"), "toInt32": _cast("int"),
    "toInt64": _cast("bigint"),
    "toUInt8": _cast("int"), "toUInt16": _cast("int"), "toUInt32": _cast("bigint"),
    "toUInt64": _cast("bigint"),
    "toFloat32": _cast("float"), "toFloat64": _cast("double"),
    "toString": _cast("string"),
    "toBool": _cast("boolean"),
    "toInt64OrNull": _try_cast("bigint"), "toInt32OrNull": _try_cast("int"),
    "toFloat64OrNull": _try_cast("double"),
    "toDecimal64": lambda a: f"cast({a[0]} as decimal(18, {a[1]}))",
    "toFixedString": _cast("string"),
    "toTypeName": _fn("typeof"),
    # -- conditionals / null -----------------------------------------------
    "multiIf": _multi_if,
    "ifNull": _fn("ifnull"),
    "nullIf": _fn("nullif"),
    "assumeNotNull": _tpl("{0}"),
    "isNull": _tpl("({0} IS NULL)"),
    "isNotNull": _tpl("({0} IS NOT NULL)"),
    "empty": _tpl("(length({0}) = 0)"),
    "notEmpty": _tpl("(length({0}) > 0)"),
    # -- strings -----------------------------------------------------------
    "lengthUTF8": _fn("length"),
    "lowerUTF8": _fn("lower"),
    "upperUTF8": _fn("upper"),
    "substringUTF8": _fn("substring"),
    "mid": _fn("substring"),
    "position": _swap("locate"),
    "positionCaseInsensitive": lambda a: f"locate(lower({a[1]}), lower({a[0]}))",
    "splitByChar": _split_by_char,
    "splitByString": _split_by_char,
    "splitByWhitespace": _tpl("split(trim({0}), '\\\\s+')"),
    "countSubstrings": _tpl(
        "((length({0}) - length(replace({0}, {1}, ''))) div length({1}))"
    ),
    "positionUTF8": _swap("locate"),
    "concatWithSeparator": _fn("concat_ws"),
    "startsWith": _fn("startswith"),
    "endsWith": _fn("endswith"),
    "trimLeft": _fn("ltrim"),
    "trimRight": _fn("rtrim"),
    "trimBoth": _fn("trim"),
    "replaceAll": _fn("replace"),
    "replaceRegexpAll": _replace_regexp_all,
    "match": _tpl("({0} RLIKE {1})"),
    "extract": _extract,
    "like": _tpl("({0} LIKE {1})"),
    "notLike": _tpl("({0} NOT LIKE {1})"),
    "ilike": _tpl("({0} ILIKE {1})"),
    "leftPad": _fn("lpad"),
    "rightPad": _fn("rpad"),
    "reverseUTF8": _fn("reverse"),
    "base64Encode": _fn("base64"),
    "base64Decode": _tpl("cast(unbase64({0}) as string)"),
    "tryBase64Decode": _tpl("cast(try_to_binary({0}, 'base64') as string)"),
    # -- arrays ------------------------------------------------------------
    "arrayJoin": _fn("explode"),
    "has": _fn("array_contains"),
    "hasAny": _fn("arrays_overlap"),
    "indexOf": _fn("array_position"),
    # try_: CH arrayElement is total (type default out of range); element_at
    # would throw under ANSI. NULL-for-missing is the shim convention.
    "arrayElement": _fn("try_element_at"),
    "arrayConcat": _fn("concat"),
    "arraySlice": _array_slice,
    "arrayDistinct": _fn("array_distinct"),
    "arrayUniq": _tpl("size(array_distinct({0}))"),
    "arraySort": _fn("sort_array"),
    "arrayReverseSort": lambda a: f"sort_array({a[0]}, false)",
    "arrayReverse": _fn("reverse"),
    "arrayFlatten": _fn("flatten"),
    "arrayZip": _fn("arrays_zip"),
    "arrayMap": lambda a: (
        f"transform({a[1]}, {a[0]})" if len(a) == 2
        else f"zip_with({a[1]}, {a[2]}, {a[0]})"
    ),
    "arrayFilter": _swap("filter"),
    "arrayExists": _swap("exists"),
    "arrayAll": _swap("forall"),
    "arrayCount": lambda a: f"size(filter({a[1]}, {a[0]}))",
    "arrayFirst": lambda a: f"element_at(filter({a[1]}, {a[0]}), 1)",
    "arraySum": _tpl("aggregate({0}, 0D, (acc, x) -> acc + x)"),
    "arrayMin": _fn("array_min"),
    "arrayMax": _fn("array_max"),
    # CH's default separator is '' — Spark's array_join has no default
    "arrayStringConcat": lambda a: (
        f"array_join({a[0]}, '')" if len(a) == 1
        else f"array_join({', '.join(a)})"
    ),
    # arrayFold(λ(acc, x), arr, init) — Spark aggregate's arg order differs
    "arrayFold": lambda a: f"aggregate({a[1]}, {a[2]}, {a[0]})",
    "arrayReduce": _array_reduce,
    "hasAll": _tpl("forall({1}, x -> array_contains({0}, x))"),
    "sumMap": _map_combinator("+"),
    "minMap": _map_combinator("least"),
    "maxMap": _map_combinator("greatest"),
    "arrayEnumerate": _tpl("sequence(1, size({0}))"),
    "arrayIntersect": _fn("array_intersect"),
    "arrayPushBack": _tpl("concat({0}, array({1}))"),
    "arrayPushFront": _tpl("concat(array({1}), {0})"),
    "arrayPopBack": _tpl("slice({0}, 1, size({0}) - 1)"),
    "arrayPopFront": _tpl("slice({0}, 2, size({0}) - 1)"),
    "arrayAvg": _tpl("(aggregate({0}, 0D, (acc, x) -> acc + x) / size({0}))"),
    # Array calculus: type-preserving (the accumulator starts from an element,
    # never a literal, so int arrays stay int and float arrays stay float).
    # greatest(i, 1) keeps the untaken element_at branch ANSI-safe at i = 0.
    "arrayDifference": _tpl(
        "transform({0}, (v, i) -> "
        "if(i = 0, v - v, v - element_at({0}, greatest(i, 1))))"
    ),
    "arrayCumSum": _tpl(
        "transform({0}, (v, i) -> "
        "aggregate(slice({0}, 1, i), v, (acc, x) -> acc + x))"
    ),
    # Consecutive-duplicate removal; <=> keeps NULL runs collapsing like CH.
    "arrayCompact": _tpl(
        "filter({0}, (v, i) -> "
        "i = 0 OR NOT (v <=> element_at({0}, greatest(i, 1))))"
    ),
    "countEqual": _tpl("size(filter({0}, v -> v <=> {1}))"),
    "range": _range,
    # -- tuples --------------------------------------------------------------
    # CH tuples are positional; Spark structs are named, so tuple() generates
    # stable _1.._n names and tupleElement resolves literal positions/names.
    "tuple": _tuple,
    "tupleElement": _tuple_element,
    # -- lookup transform ----------------------------------------------------
    "transform": _ch_transform,
    # -- JSON --------------------------------------------------------------
    "JSONExtractString": lambda a: f"get_json_object({a[0]}, {_json_path(a[1])})",
    "JSONExtractInt": lambda a: (
        f"cast(get_json_object({a[0]}, {_json_path(a[1])}) as bigint)"
    ),
    "JSONExtractFloat": lambda a: (
        f"cast(get_json_object({a[0]}, {_json_path(a[1])}) as double)"
    ),
    "JSONExtractBool": lambda a: (
        f"cast(get_json_object({a[0]}, {_json_path(a[1])}) as boolean)"
    ),
    "JSONHas": lambda a: (
        f"(get_json_object({a[0]}, {_json_path(a[1])}) IS NOT NULL)"
    ),
    "visitParamExtractString": lambda a: f"get_json_object({a[0]}, {_json_path(a[1])})",
    "simpleJSONExtractString": lambda a: f"get_json_object({a[0]}, {_json_path(a[1])})",
    "simpleJSONExtractRaw": lambda a: f"get_json_object({a[0]}, {_json_path(a[1])})",
    "simpleJSONExtractInt": lambda a: (
        f"cast(get_json_object({a[0]}, {_json_path(a[1])}) as bigint)"
    ),
    "simpleJSONExtractFloat": lambda a: (
        f"cast(get_json_object({a[0]}, {_json_path(a[1])}) as double)"
    ),
    "simpleJSONExtractBool": lambda a: (
        f"cast(get_json_object({a[0]}, {_json_path(a[1])}) as boolean)"
    ),
    "simpleJSONHas": lambda a: (
        f"(get_json_object({a[0]}, {_json_path(a[1])}) IS NOT NULL)"
    ),
    "JSONExtractRaw": lambda a: f"get_json_object({a[0]}, {_json_path(a[1])})",
    "JSONArrayLength": lambda a: f"json_array_length({a[0]})",
    "JSONLength": lambda a: (
        f"coalesce(json_array_length({a[0]}), "
        f"size(json_object_keys({a[0]})))"
    ),
    "isValidJSON": lambda a: (
        # get_json_object returns NULL for malformed input; the literal
        # JSON scalar 'null' is valid JSON but also maps to NULL — treat
        # it explicitly.
        f"(get_json_object({a[0]}, '$') IS NOT NULL OR trim({a[0]}) = 'null')"
    ),
    "toJSONString": _fn("to_json"),
    # JSONExtractKeys / JSONExtractKeysAndValues(j[, path], 'T'): the
    # object's keys / (key, value) pairs with values cast to the
    # requested CH type (String/Int*/UInt*/Float* supported; the type
    # argument is a quoted literal).
    "JSONExtractKeys": lambda a: f"json_object_keys({a[0]})",
    "JSONExtractKeysAndValues": _json_keys_values,
    # -- aggregates --------------------------------------------------------
    "count": _count,
    "uniq": _fn("approx_count_distinct"),
    "uniqCombined": _fn("approx_count_distinct"),
    "uniqCombined64": _fn("approx_count_distinct"),
    "uniqHLL12": _fn("approx_count_distinct"),
    "uniqExact": lambda a: f"count(DISTINCT {', '.join(a)})",
    "any": _fn("any_value"),
    "anyLast": _fn("last"),
    "anyHeavy": _fn("any_value"),
    "argMax": _fn("max_by"),
    "argMin": _fn("min_by"),
    "groupUniqArray": _fn("collect_set"),
    "median": _tpl("percentile({0}, 0.5)"),
    "medianExactWeighted": _tpl("percentile({0}, 0.5, {1})"),
    "medianExact": _tpl("percentile({0}, 0.5)"),
    "stddevPop": _fn("stddev_pop"),
    "stddevSamp": _fn("stddev_samp"),
    "varPop": _fn("var_pop"),
    "varSamp": _fn("var_samp"),
    "covarPop": _fn("covar_pop"),
    "covarSamp": _fn("covar_samp"),
    # CH's *Stable variants trade speed for numerically-stable summation —
    # Spark's aggregates already use stable merge formulas, so the plain
    # functions are the faithful mapping.
    "corrStable": _fn("corr"),
    "covarPopStable": _fn("covar_pop"),
    "covarSampStable": _fn("covar_samp"),
    "stddevPopStable": _fn("stddev_pop"),
    "stddevSampStable": _fn("stddev_samp"),
    "varPopStable": _fn("var_pop"),
    "varSampStable": _fn("var_samp"),
    # sumCount(x) = the (sum, count) pair in one pass — CH's own avg state.
    "sumCount": _tpl("named_struct('sum', sum({0}), 'count', count({0}))"),
    # boundingRatio(x, y): slope between the leftmost and rightmost points.
    "boundingRatio": _tpl(
        "((max_by({1}, {0}) - min_by({1}, {0})) / (max({0}) - min({0})))"
    ),
    # intervalLengthSum(start, end): total length of the UNION of the
    # group's segments — a sweep-line fold over the sorted intervals
    # (numeric axes; wrap datetimes with toUnixTimestamp in the query).
    "intervalLengthSum": _tpl(
        "aggregate("
        "array_sort(collect_list(named_struct("
        "'s', cast({0} as double), 'e', cast({1} as double)))), "
        "named_struct('cs', cast(null as double), "
        "'ce', cast(null as double), 'tot', cast(0 as double)), "
        "(a, e) -> named_struct("
        "'cs', CASE WHEN a.cs IS NULL OR e.s > a.ce THEN e.s "
        "ELSE a.cs END, "
        "'ce', CASE WHEN a.cs IS NULL OR e.s > a.ce THEN e.e "
        "ELSE greatest(a.ce, e.e) END, "
        "'tot', CASE WHEN a.cs IS NOT NULL AND e.s > a.ce "
        "THEN a.tot + (a.ce - a.cs) ELSE a.tot END), "
        "a -> a.tot + CASE WHEN a.cs IS NOT NULL THEN a.ce - a.cs "
        "ELSE 0D END)"
    ),
    "skewPop": _fn("skewness"),  # both are population g1 = m3 / m2^1.5
    # CH kurtPop = m4/σ⁴ (NON-excess); Spark kurtosis returns EXCESS
    # kurtosis (g2 = m4/σ⁴ - 3) — translate the convention, not the name.
    "kurtPop": _tpl("(kurtosis({0}) + 3)"),
    # CH's Samp variants divide the POPULATION central moments by sample-
    # variance powers (not the textbook G1/G2 corrections): m3/s³ and
    # m4/s⁴. Recover them exactly from the Pop forms via the variance
    # ratio: m3 = skewness·varPop^1.5, m4 = (kurtosis+3)·varPop².
    "skewSamp": _tpl(
        "(skewness({0}) * pow(var_pop({0}) / var_samp({0}), 1.5D))"
    ),
    "kurtSamp": _tpl(
        "((kurtosis({0}) + 3) * pow(var_pop({0}) / var_samp({0}), 2D))"
    ),
    # avgWeighted(x, w) = Σxw / Σw (CH returns NaN on zero total weight;
    # Spark division yields NULL — shim NULL convention).
    "avgWeighted": _tpl("(sum(({0}) * ({1})) / sum({1}))"),
    "groupBitAnd": _fn("bit_and"),
    "groupBitOr": _fn("bit_or"),
    "groupBitXor": _fn("bit_xor"),
    # -Array combinators: aggregate over the concatenation of array args.
    "sumArray": _tpl("sum(aggregate({0}, 0D, (acc, x) -> acc + x))"),
    "minArray": _tpl("min(array_min({0}))"),
    "maxArray": _tpl("max(array_max({0}))"),
    # avgArray averages over ALL elements of the group's arrays — a
    # sum-of-sums over a sum-of-sizes, not an average of per-row means.
    "avgArray": _tpl(
        "(sum(aggregate({0}, 0D, (acc, x) -> acc + x)) "
        "/ sum(size({0})))"
    ),
    # uniq(Exact)Array: distinct count over the union of the group's
    # arrays. Exact via flatten + distinct (uniqArray is approximate in
    # the source dialect — exact satisfies the same contract
    # deterministically; swap to HLL over exploded rows at corpus scale).
    "uniqArray": _tpl(
        "cast(size(array_distinct(flatten(collect_list({0})))) as bigint)"
    ),
    "uniqExactArray": _tpl(
        "cast(size(array_distinct(flatten(collect_list({0})))) as bigint)"
    ),
    "groupArrayArray": _tpl("flatten(collect_list({0}))"),
    # countDistinct: the uniqExact alias spelling
    "countDistinct": _tpl("count(DISTINCT {0})"),
    "countArray": _tpl("sum(size({0}))"),
    # -- float classification ---------------------------------------------
    "isFinite": _tpl("(NOT isnan({0}) AND abs({0}) != double('inf'))"),
    "isInfinite": _tpl("(abs({0}) = double('inf'))"),
    "isNaN": _fn("isnan"),
    "ifNotFinite": _tpl(
        "(CASE WHEN isnan({0}) OR abs({0}) = double('inf') "
        "THEN {1} ELSE {0} END)"
    ),
    # -- math / hash / bits ------------------------------------------------
    "intDiv": _tpl("({0} div {1})"),
    "modulo": _tpl("({0} % {1})"),
    "plus": _tpl("({0} + {1})"),
    "minus": _tpl("({0} - {1})"),
    "multiply": _tpl("({0} * {1})"),
    "divide": _tpl("({0} / {1})"),
    "negate": _tpl("(- {0})"),
    "roundBankers": _fn("bround"),
    # CH round() on FLOAT inputs is banker's rounding (half to even) —
    # Spark's round() is HALF_UP, a silent divergence on exact .5 ties
    # (round(2.5): CH 2, Spark 3). bround is the faithful mapping; the
    # Decimal-input away-from-zero variant keeps HALF_UP via toDecimal +
    # Spark round if a port needs it.
    "round": _fn("bround"),
    "cityHash64": _fn("xxhash64"),  # role-equivalent, different values
    "sipHash64": _fn("xxhash64"),
    # round-11 audit: the remaining stable-hash spellings, all on the
    # cityHash64 role-equivalence policy (64-bit → xxhash64, 32-bit →
    # murmur3 hash(), 128-bit → md5 bytes; documented different values)
    "metroHash64": _fn("xxhash64"),
    "murmurHash2_64": _fn("xxhash64"),
    "murmurHash3_64": _fn("xxhash64"),
    "murmurHash2_32": _fn("hash"),
    "murmurHash3_32": _fn("hash"),
    "gccMurmurHash": _fn("xxhash64"),
    "kafkaMurmurHash": _fn("hash"),
    "murmurHash3_128": _tpl("unhex(md5({0}))"),
    # toLowCardinality / materialize are storage/constness wrappers — the
    # value is unchanged; ignore() is CH's constant 0 sink.
    "toLowCardinality": _tpl("({0})"),
    "materialize": _tpl("({0})"),
    "ignore": lambda a: "0",
    "farmHash64": _fn("xxhash64"),
    "halfMD5": _fn("xxhash64"),
    "MD5": _tpl("unhex(md5({0}))"),
    "SHA256": _tpl("unhex(sha2({0}, 256))"),
    "bitAnd": _tpl("({0} & {1})"),
    "bitOr": _tpl("({0} | {1})"),
    "bitXor": _tpl("({0} ^ {1})"),
    "bitNot": _tpl("(~ {0})"),
    "bitShiftLeft": _fn("shiftleft"),
    "bitShiftRight": _fn("shiftright"),
    "bitCount": _fn("bit_count"),
    "bitTest": _tpl("(shiftright({0}, {1}) & 1)"),
    "rand": lambda a: "cast(floor(rand() * 4294967296) as bigint)",
    "sign": _fn("signum"),
    "exp2": _tpl("power(2, {0})"),
    "exp10": _tpl("power(10, {0})"),
    "toUnixTimestamp64Milli": _fn("unix_millis"),
    "toUnixTimestamp64Micro": _fn("unix_micros"),
    "fromUnixTimestamp64Milli": _fn("timestamp_millis"),
    "fromUnixTimestamp64Micro": _fn("timestamp_micros"),
    # -- table functions ---------------------------------------------------
    # numbers(n) / numbers(offset, n): CH's integer-series table; Spark's
    # range() names the column `id`, so wrap to keep CH's `number` name.
    "numbers": lambda a: (
        f"(SELECT id AS number FROM range({a[0]}))" if len(a) == 1
        else f"(SELECT id AS number FROM range({a[0]}, ({a[0]}) + ({a[1]})))"
    ),
    # -- URL ---------------------------------------------------------------
    "protocol": _tpl("parse_url({0}, 'PROTOCOL')"),
    "domain": _tpl("parse_url({0}, 'HOST')"),
    "path": _tpl("parse_url({0}, 'PATH')"),
    "queryString": _tpl("parse_url({0}, 'QUERY')"),
    "extractURLParameter": _tpl("parse_url({0}, 'QUERY', {1})"),
    "topLevelDomain": _tpl(
        "regexp_extract(parse_url({0}, 'HOST'), '\\\\.([^.]+)$', 1)"
    ),
    # CH's rule (FirstSignificantSubdomain.h): normally the second-level
    # label, but when that label is one of the composite second levels
    # {com, net, org, co} (news.clickhouse.com.tr), step one label left.
    # try_element_at → NULL on too-short hosts (bare 'com.tr').
    "firstSignificantSubdomain": _tpl(
        "try_element_at(split(parse_url({0}, 'HOST'), '\\\\.'), "
        "CASE WHEN try_element_at(split(parse_url({0}, 'HOST'), '\\\\.'), "
        "-2) IN ('com', 'net', 'org', 'co') THEN -3 ELSE -2 END)"
    ),
    "substringIndex": _fn("substring_index"),
    # CH window-function spellings: lagInFrame/leadInFrame respect the
    # frame; over the default frame they equal lag/lead (the common use).
    "lagInFrame": _fn("lag"),
    "leadInFrame": _fn("lead"),
    "cutQueryString": _tpl("regexp_replace({0}, '\\\\?.*$', '')"),
    "cutFragment": _tpl("regexp_replace({0}, '#.*$', '')"),
    # -- IPv4 ----------------------------------------------------------------
    "IPv4NumToString": _tpl(
        "concat(cast(({0} div 16777216) % 256 as string), '.', "
        "cast(({0} div 65536) % 256 as string), '.', "
        "cast(({0} div 256) % 256 as string), '.', "
        "cast({0} % 256 as string))"
    ),
    "IPv4StringToNum": _tpl(
        "aggregate(transform(split({0}, '\\\\.'), x -> cast(x as bigint)), "
        "0L, (acc, x) -> acc * 256 + x)"
    ),
    # -- geo -----------------------------------------------------------------
    "greatCircleDistance": _haversine,
    "geoDistance": _haversine,
    # -- aggregates (round-6 batch) -------------------------------------------
    "retention": _retention,
    # ---- round-9 scalar batch ---------------------------------------------
    "parseDateTime": _parse_date_time,
    "parseDateTimeOrNull": lambda a: (
        _parse_date_time(a).replace("to_timestamp(", "try_to_timestamp(", 1)
    ),
    "timeSlots": _time_slots,
    "bitmaskToList": _bitmask_to_list,
    # Spark strings are valid UTF-8 by construction — identity is faithful
    "toValidUTF8": _tpl("({0})"),
    "alphaTokens": _tpl(
        "filter(split({0}, '[^a-zA-Z]+'), t -> t != '')"
    ),
    "translateUTF8": _fn("translate"),
    "dateTrunc": _fn("date_trunc"),
    # ANSI mode already throws on overflowing casts — CH's accurateCast
    # contract; the OrNull form is try_cast. The CH type name (a string
    # literal) maps through the DDL translator's own type table.
    "accurateCast": lambda a: _accurate_cast("cast", a),
    "accurateCastOrNull": lambda a: _accurate_cast("try_cast", a),
    # key-wise arithmetic over the key UNION; zero results are KEPT
    # (CH's mapAdd/mapSubtract don't drop them — only sumMap does)
    "mapAdd": _tpl(
        "map_zip_with({0}, {1}, "
        "(k, a, b) -> coalesce(a, 0) + coalesce(b, 0))"
    ),
    "mapSubtract": _tpl(
        "map_zip_with({0}, {1}, "
        "(k, a, b) -> coalesce(a, 0) - coalesce(b, 0))"
    ),
    # CH leaves positions past the limit in UNSPECIFIED order — the full
    # sort is a conforming implementation (arg order: (limit, arr)).
    "arrayPartialSort": _tpl("array_sort({1})"),
    "arrayShuffle": _tpl("shuffle({0})"),
    "arrayRotateLeft": _tpl(
        "concat(slice({0}, pmod({1}, greatest(size({0}), 1)) + 1, "
        "size({0}) - pmod({1}, greatest(size({0}), 1))), "
        "slice({0}, 1, pmod({1}, greatest(size({0}), 1))))"
    ),
    "arrayShiftLeft": _array_shift_left,
    "toIntervalSecond": _tpl("make_dt_interval(0, 0, 0, {0})"),
    "toIntervalMinute": _tpl("make_dt_interval(0, 0, {0}, 0)"),
    "toIntervalHour": _tpl("make_dt_interval(0, {0}, 0, 0)"),
    "toIntervalDay": _tpl("make_dt_interval({0}, 0, 0, 0)"),
    "toIntervalWeek": _tpl("make_dt_interval(({0}) * 7, 0, 0, 0)"),
    "toIntervalMonth": _tpl("make_interval(0, {0})"),
    "toIntervalQuarter": _tpl("make_interval(0, ({0}) * 3)"),
    "toIntervalYear": _tpl("make_interval({0})"),
    "maxIntersections": lambda a: _max_intersections(None, a),
    "maxIntersectionsPosition": lambda a: _max_intersections_position(None, a),
    # exactly one distinct non-null value -> that value, else NULL (CH's
    # singleValueOrNull; min() is the value when the distinct count is 1)
    "singleValueOrNull": _tpl(
        "(CASE WHEN count(DISTINCT {0}) = 1 THEN min({0}) END)"
    ),
    # CH arg order is (x, y); Spark's regr_* take (y, x). Tuple fields (k, b).
    "simpleLinearRegression": _tpl(
        "named_struct('k', regr_slope({1}, {0}), 'b', regr_intercept({1}, {0}))"
    ),
    # -- round-7 batch -------------------------------------------------------
    # ISO year start: the Monday of the week containing Jan 4 of the ISO
    # year (itself the Thursday-anchored year of toISOYear).
    "toStartOfISOYear": _tpl(
        "to_date(date_trunc('week', make_date("
        "year(date_add(date_trunc('week', {0}), 3)), 1, 4)))"
    ),
    # Modified Julian Day epoch is 1858-11-17.
    "toModifiedJulianDay": _tpl("datediff({0}, DATE '1858-11-17')"),
    "fromModifiedJulianDay": _tpl("date_add(DATE '1858-11-17', {0})"),
    # Documented divergence: Spark's to_timestamp parses the ISO-8601
    # subset, not CH's full best-effort grammar (RFC dates etc. -> error /
    # NULL for the OrNull form).
    "parseDateTimeBestEffort": _fn("to_timestamp"),
    "parseDateTimeBestEffortOrNull": _fn("try_to_timestamp"),
    "dateName": _date_name,
    "lcase": _fn("lower"),
    "ucase": _fn("upper"),
    # CH tokens(): split on runs of non-alphanumeric ASCII, no empties.
    "tokens": _tpl("filter(split({0}, '[^a-zA-Z0-9]+'), t -> t != '')"),
    # Character n-grams; guard short strings (Spark sequence(1, 0) would
    # DESCEND, not return empty).
    "ngrams": _tpl(
        "element_at(transform(array({0}), ngs -> if(length(ngs) < {1}, array(), "
        "transform(sequence(1, length(ngs) - {1} + 1), "
        "i -> substring(ngs, i, {1})))), 1)"
    ),
    "countMatches": _tpl("size(regexp_extract_all({0}, {1}, 0))"),
    "extractAll": _extract_all,
    "extractGroups": _extract_groups,
    # CH arg order is (separator_regex, s); Spark split takes (s, regex).
    "splitByRegexp": _tpl("split({1}, {0})"),
    "formatReadableSize": _format_readable_size,
    # First-occurrence replace: Spark replace() is replace-all, so compose
    # locate + substring (exact, no regex escaping hazards).
    "replaceOne": _tpl(
        "if(locate({1}, {0}) > 0, "
        "concat(substring({0}, 1, locate({1}, {0}) - 1), {2}, "
        "substring({0}, locate({1}, {0}) + length({1}))), {0})"
    ),
    # Per-element occurrence rank (1-based): count equal values in the
    # prefix up to and including the element. O(len^2) per array — arrays
    # are row-local, never a shuffle concern.
    "arrayEnumerateUniq": _tpl(
        "transform({0}, (v, i) -> "
        "size(filter(slice({0}, 1, i + 1), e -> e <=> v)))"
    ),
    # Dense first-occurrence id: position in the distinct array.
    "arrayEnumerateDense": _tpl(
        "transform({0}, v -> cast(array_position(array_distinct({0}), v) as int))"
    ),
    "arrayFirstIndex": lambda a: (
        f"cast(coalesce(array_position(transform({a[1]}, {a[0]}), true), 0) as int)"
    ),
    "arrayLast": lambda a: f"element_at(filter({a[1]}, {a[0]}), -1)",
    "arrayResize": _array_resize,
    "mapKeys": _fn("map_keys"),
    "mapValues": _fn("map_values"),
    "mapContains": _fn("map_contains_key"),
    "mapFromArrays": _fn("map_from_arrays"),
    "generateUUIDv4": lambda a: "uuid()",
    "randCanonical": lambda a: "rand()",
    "toInt64OrZero": _tpl("coalesce(try_cast({0} as bigint), 0L)"),
    "toInt32OrZero": _tpl("coalesce(try_cast({0} as int), 0)"),
    "toFloat64OrZero": _tpl("coalesce(try_cast({0} as double), 0D)"),
    # -- round-9 wave 3: multiSearch* over a needle array --------------------
    # CH implements these with Volnitsky multi-pattern scan; the Spark
    # equivalents are higher-order functions over the needle array — still
    # one whole-stage-codegen projection, no UDF. Positions are 1-based,
    # 0 = no hit, matching CH (and the repo's c_multi_search contract:
    # FirstIndex ties break to the LOWEST needle index, which is also what
    # array_position's first-match rule yields).
    "multiSearchAny": _tpl("exists({1}, n -> instr({0}, n) > 0)"),
    "multiSearchAllPositions": _tpl(
        "transform({1}, n -> cast(instr({0}, n) as bigint))"
    ),
    "multiSearchFirstPosition": _tpl(
        "coalesce(array_min(filter(transform({1}, n -> "
        "cast(instr({0}, n) as bigint)), p -> p > 0)), 0L)"
    ),
    "multiSearchFirstIndex": _tpl(
        "cast(coalesce(array_position("
        "transform({1}, n -> cast(instr({0}, n) as bigint)), "
        "array_min(filter(transform({1}, n -> "
        "cast(instr({0}, n) as bigint)), p -> p > 0))), 0) as bigint)"
    ),
    "multiSearchAnyCaseInsensitive": _tpl(
        "exists({1}, n -> instr(lower({0}), lower(n)) > 0)"
    ),
    # -- round-9 wave 3: map function leftovers -------------------------------
    "mapContainsKey": _fn("map_contains_key"),
    # mapFilter(λ(k, v), m): CH takes the lambda first; Spark's map_filter
    # shares the (k, v) -> bool lambda syntax verbatim, so only the argument
    # order moves.
    "mapFilter": _swap("map_filter"),
    "mapExtractKeyLike": _tpl("map_filter({0}, (k, v) -> k like {1})"),
    # mapUpdate(m1, m2): m2's values win on key collisions. Spark's
    # map_concat throws on duplicates under the default dedup policy, so
    # rebuild from entries: m1's entries minus m2's keys, then m2.
    "mapUpdate": _tpl(
        "map_from_entries(concat("
        "filter(map_entries({0}), "
        "e -> NOT array_contains(map_keys({1}), e.key)), "
        "map_entries({1})))"
    ),
    # mapConcat: same rebuild, but the FIRST map's value wins (CH keeps the
    # first occurrence of a key across the concatenated maps).
    "mapConcat": lambda a: (
        a[0] if len(a) == 1 else _map_concat_first_wins(a)
    ),
    # -- round-9 wave 3: URL leftovers ----------------------------------------
    "domainWithoutWWW": _tpl(
        "regexp_replace(parse_url({0}, 'HOST'), '^www\\\\.', '')"
    ),
    # Keep everything from the first significant subdomain rightward: the
    # last 2 host labels, or 3 when the second-to-last label is a composite
    # TLD second level (same {com,net,org,co} list as
    # firstSignificantSubdomain above).
    "cutToFirstSignificantSubdomain": _tpl(
        "concat_ws('.', slice(split(parse_url({0}, 'HOST'), '\\\\.'), "
        "CASE WHEN try_element_at(split(parse_url({0}, 'HOST'), '\\\\.'), -2) "
        "IN ('com', 'net', 'org', 'co') THEN -3 ELSE -2 END, 3))"
    ),
    # port(url[, default]): Spark's parse_url has no PORT key — extract it
    # from AUTHORITY (host[:port]). CH defaults to 0 when absent.
    "port": lambda a: (
        f"coalesce(cast(nullif(regexp_extract(parse_url({a[0]}, "
        f"'AUTHORITY'), ':([0-9]+)$', 1), '') as int), "
        f"{a[1] if len(a) > 1 else '0'})"
    ),
    "fragment": _tpl("parse_url({0}, 'REF')"),
    "queryStringAndFragment": _tpl(
        "concat(coalesce(parse_url({0}, 'QUERY'), ''), "
        "CASE WHEN parse_url({0}, 'REF') IS NOT NULL "
        "THEN concat('#', parse_url({0}, 'REF')) ELSE '' END)"
    ),
    "decodeURLComponent": _fn("url_decode"),
    # url_encode is form-encoding and diverges from CH on three bytes:
    # space ('+' vs %20), '~' (%7E vs literal), '*' (literal vs %2A).
    # The replace chain reconciles all three; order is safe because
    # url_encode never emits a literal '*' except for input '*' and the
    # earlier replaces cannot introduce one (ADVICE r9).
    "encodeURLComponent": _tpl(
        "replace(replace(replace(url_encode({0}), "
        "'+', '%20'), '%7E', '~'), '*', '%2A')"
    ),
    "netloc": _tpl("parse_url({0}, 'AUTHORITY')"),
    # -- round-9 wave 3: scalar leftovers --------------------------------------
    # xor: CH's logical xor, VARIADIC over 2+ UInt8-ish args, returning 0/1
    # (a 2-arg-only template silently dropped the tail args — ADVICE r9).
    "xor": lambda a: _xor_fold(a),
    # max2/min2 return Float64 in CH regardless of input type.
    "max2": _tpl("cast(greatest({0}, {1}) as double)"),
    "min2": _tpl("cast(least({0}, {1}) as double)"),
    "intDivOrZero": _tpl(
        "CASE WHEN ({1}) = 0 THEN 0 ELSE ({0} div {1}) END"
    ),
    "moduloOrZero": _tpl(
        "CASE WHEN ({1}) = 0 THEN 0 ELSE ({0}) % ({1}) END"
    ),
    # 64-bit rotates (CH rotates at the argument's width; the shim pins the
    # common UInt64/Int64 case and documents the width assumption).
    "bitRotateLeft": _tpl(
        "(shiftleft(cast({0} as bigint), {1}) | "
        "shiftrightunsigned(cast({0} as bigint), 64 - ({1})))"
    ),
    "bitRotateRight": _tpl(
        "(shiftrightunsigned(cast({0} as bigint), {1}) | "
        "shiftleft(cast({0} as bigint), 64 - ({1})))"
    ),
    "bitTestAll": lambda a: "(" + " AND ".join(
        f"((shiftrightunsigned(cast({a[0]} as bigint), {b}) & 1) = 1)"
        for b in a[1:]
    ) + ")",
    "bitTestAny": lambda a: "(" + " OR ".join(
        f"((shiftrightunsigned(cast({a[0]} as bigint), {b}) & 1) = 1)"
        for b in a[1:]
    ) + ")",
    "bitHammingDistance": _tpl(
        "bit_count(cast({0} as bigint) ^ cast({1} as bigint))"
    ),
    # roundToExp2: largest power of two <= x (0 for x < 1). length(bin(x))-1
    # is an EXACT floor(log2) for positive integers — no float round-trip.
    "roundToExp2": _tpl(
        "CASE WHEN ({0}) < 1 THEN 0 ELSE "
        "shiftleft(cast(1 as bigint), "
        "length(bin(cast({0} as bigint))) - 1) END"
    ),
    # roundDown(x, arr): largest element <= x, else the array's first.
    "roundDown": _tpl(
        "coalesce(array_max(filter({1}, e -> e <= {0})), "
        "element_at({1}, 1))"
    ),
    # CH's fixed duration ladder (seconds).
    "roundDuration": _tpl(
        "CASE WHEN ({0}) < 1 THEN 0 ELSE coalesce(array_max(filter("
        "array(1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, "
        "3600, 7200, 18000, 36000), e -> e <= {0})), 1) END"
    ),
    # CH's fixed age buckets.
    "roundAge": _tpl(
        "CASE WHEN ({0}) < 1 THEN 0 WHEN ({0}) <= 17 THEN 17 "
        "WHEN ({0}) <= 24 THEN 18 WHEN ({0}) <= 34 THEN 25 "
        "WHEN ({0}) <= 44 THEN 35 WHEN ({0}) <= 54 THEN 45 "
        "ELSE 55 END"
    ),
    # sumWithOverflow keeps the input width in CH (wrapping on overflow);
    # Spark widens instead — identical results whenever the sum fits, which
    # is the only well-defined regime. sumKahan: Spark's double sum uses
    # pairwise-merged partials, the same compensation goal.
    "sumWithOverflow": _fn("sum"),
    "sumKahan": _fn("sum"),
    "isValidUTF8": _tpl("cast(is_valid_utf8({0}) as int)"),
    "widthBucket": _fn("width_bucket"),
    "anyRespectNulls": _tpl("first({0})"),
    "firstValueRespectNulls": _tpl("first({0})"),
    "lastValueRespectNulls": _tpl("last({0})"),
    "currentDatabase": lambda a: "current_database()",
    "currentUser": lambda a: "current_user()",
    # version() reports the EXECUTING engine's version string, as in CH.
    "version": lambda a: "version()",
    "timezone": lambda a: "current_timezone()",
    "serverTimezone": lambda a: "current_timezone()",
    "UUIDStringToNum": _tpl("unhex(replace({0}, '-', ''))"),
    "UUIDNumToString": _tpl(
        "lower(concat(substr(hex({0}), 1, 8), '-', "
        "substr(hex({0}), 9, 4), '-', substr(hex({0}), 13, 4), '-', "
        "substr(hex({0}), 17, 4), '-', substr(hex({0}), 21, 12)))"
    ),
    "editDistance": _fn("levenshtein"),
    "editDistanceUTF8": _fn("levenshtein"),
    "levenshteinDistance": _fn("levenshtein"),
    # Jaccard over the two strings' CHARACTER SETS (CH operates on byte
    # sets; identical for ASCII, documented divergence on multi-byte).
    "stringJaccardIndex": _tpl(
        "CASE WHEN ({0}) = '' AND ({1}) = '' THEN 1.0D ELSE "
        "cast(size(array_intersect(filter(split({0}, ''), c -> c <> ''), "
        "filter(split({1}, ''), c -> c <> ''))) as double) / "
        "size(array_distinct(concat(filter(split({0}, ''), c -> c <> ''), "
        "filter(split({1}, ''), c -> c <> '')))) END"
    ),
    "isIPv4String": _tpl(
        "({0} rlike '^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\\\.)"
        "{{3}}(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$')"
    ),
    # IPv4CIDRToRange(ipNum, prefix) -> (lower, upper) over the numeric
    # IPv4 representation (pair with IPv4StringToNum / IPv4NumToString).
    "IPv4CIDRToRange": _tpl(
        "named_struct("
        "'lower', ({0}) - pmod({0}, shiftleft(cast(1 as bigint), 32 - ({1}))), "
        "'upper', ({0}) - pmod({0}, shiftleft(cast(1 as bigint), 32 - ({1}))) "
        "+ shiftleft(cast(1 as bigint), 32 - ({1})) - 1)"
    ),
    # -- round-9 wave 3: array math (vector helpers) ---------------------------
    # All arithmetic + one final sqrt (IEEE-exact, deterministic); folds are
    # double-typed like CH's Float64 results.
    "arrayDotProduct": _tpl(
        "aggregate(zip_with({0}, {1}, (x, y) -> cast(x as double) * y), "
        "0D, (acc, v) -> acc + v)"
    ),
    "arrayL1Distance": _tpl(
        "aggregate(zip_with({0}, {1}, (x, y) -> abs(cast(x as double) - y)), "
        "0D, (acc, v) -> acc + v)"
    ),
    "arrayL2Distance": _tpl(
        "sqrt(aggregate(zip_with({0}, {1}, (x, y) -> "
        "(cast(x as double) - y) * (cast(x as double) - y)), "
        "0D, (acc, v) -> acc + v))"
    ),
    "arrayL2SquaredDistance": _tpl(
        "aggregate(zip_with({0}, {1}, (x, y) -> "
        "(cast(x as double) - y) * (cast(x as double) - y)), "
        "0D, (acc, v) -> acc + v)"
    ),
    "arrayLinfDistance": _tpl(
        "coalesce(array_max(zip_with({0}, {1}, "
        "(x, y) -> abs(cast(x as double) - y))), 0D)"
    ),
    "arrayL1Norm": _tpl(
        "aggregate({0}, 0D, (acc, v) -> acc + abs(cast(v as double)))"
    ),
    "arrayL2Norm": _tpl(
        "sqrt(aggregate({0}, 0D, "
        "(acc, v) -> acc + cast(v as double) * v))"
    ),
    "arrayCosineDistance": _tpl(
        "(1.0D - aggregate(zip_with({0}, {1}, "
        "(x, y) -> cast(x as double) * y), 0D, (acc, v) -> acc + v) / "
        "(sqrt(aggregate({0}, 0D, (acc, v) -> acc + cast(v as double) * v)) "
        "* sqrt(aggregate({1}, 0D, (acc, v) -> acc + cast(v as double) * v))))"
    ),
    # hasSubstr(a, b): b occurs in a as a CONTIGUOUS subsequence.
    "hasSubstr": _tpl(
        "CASE WHEN size({1}) = 0 THEN true "
        "WHEN size({0}) < size({1}) THEN false "
        "ELSE exists(sequence(1, size({0}) - size({1}) + 1), "
        "i -> slice({0}, i, size({1})) = {1}) END"
    ),
    "arrayLastIndex": lambda a: (
        f"cast(CASE WHEN coalesce(array_position(reverse("
        f"transform({a[1]}, {a[0]})), true), 0) = 0 THEN 0 "
        f"ELSE size({a[1]}) - array_position(reverse("
        f"transform({a[1]}, {a[0]})), true) + 1 END as int)"
    ),
    # arrayCumSumNonNegative: running sum clamped at zero (CH resets the
    # accumulator to 0 whenever it would go negative). Double-typed fold.
    "corrMatrix": _agg_matrix("corr"),
    "covarSampMatrix": _agg_matrix("covar_samp"),
    "covarPopMatrix": _agg_matrix("covar_pop"),
    "arrayAUC": _array_auc,
    "arrayFill": _array_fill,
    "arrayReverseFill": lambda a: _array_fill(a, rev=True),
    "arraySplit": _array_split,
    "arrayReverseSplit": lambda a: _array_split(a, rev=True),
    "arrayCumSumNonNegative": _tpl(
        "aggregate({0}, named_struct('arr', array(0D), 's', 0D), "
        "(a, v) -> named_struct("
        "'arr', concat(a.arr, array(greatest(a.s + v, 0D))), "
        "'s', greatest(a.s + v, 0D)), "
        "a -> slice(a.arr, 2, size(a.arr) - 1))"
    ),
    # -- round-9 wave 3: bitmap family -----------------------------------------
    # CH bitmaps are roaring bitmaps over UInt32/64; the Spark shim uses the
    # canonical SORTED DISTINCT ARRAY as the bitmap value (bitmapToArray's
    # own output order), so every set operation is an array function and the
    # representation round-trips bit-stably through shuffles and sinks.
    "bitmapBuild": _tpl("array_sort(array_distinct({0}))"),
    "bitmapToArray": _tpl("({0})"),
    "bitmapCardinality": _tpl("size({0})"),
    "bitmapAnd": _tpl("array_sort(array_intersect({0}, {1}))"),
    "bitmapOr": _tpl("array_sort(array_distinct(concat({0}, {1})))"),
    "bitmapXor": _tpl(
        "array_sort(concat(array_except({0}, {1}), array_except({1}, {0})))"
    ),
    "bitmapAndnot": _tpl("array_sort(array_except({0}, {1}))"),
    "bitmapContains": _fn("array_contains"),
    "bitmapHasAny": _fn("arrays_overlap"),
    "bitmapHasAll": _tpl("(size(array_except({1}, {0})) = 0)"),
    "bitmapAndCardinality": _tpl("size(array_intersect({0}, {1}))"),
    "bitmapOrCardinality": _tpl("size(array_distinct(concat({0}, {1})))"),
    "bitmapXorCardinality": _tpl(
        "(size(array_except({0}, {1})) + size(array_except({1}, {0})))"
    ),
    "bitmapAndnotCardinality": _tpl("size(array_except({0}, {1}))"),
    # CH returns UINT32_MAX / 0 sentinels on empty bitmaps.
    "bitmapMin": _tpl("coalesce(array_min({0}), 4294967295L)"),
    "bitmapMax": _tpl("coalesce(array_max({0}), 0L)"),
    "bitmapSubsetInRange": _tpl(
        "filter({0}, e -> e >= {1} AND e < {2})"
    ),
    "bitmapSubsetLimit": _tpl(
        "slice(filter({0}, e -> e >= {1}), 1, {2})"
    ),
    # subBitmap(bm, offset, limit): offset is 0-based in CH.
    "subBitmap": _tpl("slice({0}, ({1}) + 1, {2})"),
    # groupBitmap(x) returns the CARDINALITY (CH's contract), not the state.
    "groupBitmap": lambda a: f"count(DISTINCT {a[0]})",
    # groupBitmap*State/Merge-style group folds over bitmap-array columns:
    # Or = distinct union; And = running intersection (NULL accumulator
    # seeds from the first bitmap); Xor = elements present in an odd number
    # of the group's bitmaps. All return cardinalities, as in CH.
    "groupBitmapOr": _tpl(
        "size(array_distinct(flatten(collect_list({0}))))"
    ),
    "groupBitmapAnd": _tpl(
        "size(aggregate(collect_list({0}), cast(null as array<bigint>), "
        "(a, x) -> CASE WHEN a IS NULL THEN array_sort(array_distinct("
        "transform(x, v -> cast(v as bigint)))) "
        "ELSE array_sort(array_intersect(a, "
        "transform(x, v -> cast(v as bigint)))) END, "
        "a -> coalesce(a, array())))"
    ),
    # Xor: count elements present in an ODD number of the group's bitmaps.
    # Sort the flattened per-bitmap-distinct multiset once, then a single
    # run-length fold counts odd multiplicities — O(n log n) per group
    # (was O(n²): a per-distinct-element filter scan, VERDICT r9 #4).
    "groupBitmapXor": _tpl(
        "aggregate(array_sort(flatten(transform(collect_list({0}), "
        "b -> array_distinct(transform(b, v -> cast(v as bigint)))))), "
        "named_struct('prev', cast(null as bigint), 'run', 0, 'odd', 0), "
        "(acc, x) -> CASE "
        "WHEN acc.prev IS NULL THEN named_struct('prev', x, 'run', 1, 'odd', 0) "
        "WHEN x = acc.prev THEN "
        "named_struct('prev', x, 'run', acc.run + 1, 'odd', acc.odd) "
        "ELSE named_struct('prev', x, 'run', 1, 'odd', acc.odd + acc.run % 2) "
        "END, "
        "acc -> acc.odd + CASE WHEN acc.prev IS NULL THEN 0 "
        "ELSE acc.run % 2 END)"
    ),
    # -- round-9 wave 3: visitParam* (legacy simpleJSON aliases) ---------------
    # Installed as aliases right after the dict literal (see below).
    # -- round-9 wave 4: vector-function short spellings ------------------------
    # CH exposes the array math under both array* and bare names.
    # (aliases installed after the dict literal: dotProduct -> arrayDotProduct
    # and friends.)
    "normalizeL1": _tpl(
        "transform({0}, v -> cast(v as double) / "
        "aggregate({0}, 0D, (acc, w) -> acc + abs(cast(w as double))))"
    ),
    "normalizeL2": _tpl(
        "transform({0}, v -> cast(v as double) / "
        "sqrt(aggregate({0}, 0D, (acc, w) -> acc + cast(w as double) * w)))"
    ),
    # -- round-9 wave 4: string leftovers ---------------------------------------
    # left/right with CH's negative-length trim semantics.
    "left": _tpl(
        "CASE WHEN ({1}) >= 0 THEN substr({0}, 1, {1}) "
        "ELSE substr({0}, 1, greatest(length({0}) + ({1}), 0)) END"
    ),
    # right(s, 0) needs its own branch: greatest({1}, 1) would force
    # length 1 and Spark treats substr position 0 as 1, returning the
    # FIRST character instead of CH's empty string (ADVICE r9).
    "right": _tpl(
        "CASE WHEN ({1}) = 0 THEN '' "
        "WHEN ({1}) > 0 THEN substr({0}, -({1}), {1}) "
        "ELSE substr({0}, least(-({1}) + 1, length({0}) + 1)) END"
    ),
    "initcapUTF8": _fn("initcap"),
    "startsWithUTF8": _fn("startswith"),
    "endsWithUTF8": _fn("endswith"),
    "substringIndexUTF8": _fn("substring_index"),
    "concatAssumeInjective": _fn("concat"),
    "positionCaseInsensitiveUTF8": lambda a: (
        f"locate(lower({a[1]}), lower({a[0]}))"
    ),
    "countSubstringsCaseInsensitive": _tpl(
        "((length({0}) - length(replace(lower({0}), lower({1}), ''))) "
        "div length({1}))"
    ),
    "countMatchesCaseInsensitive": _tpl(
        "size(regexp_extract_all({0}, concat('(?i)', {1}), 0))"
    ),
    # regexpExtract: CH's spelling of extract-with-group (default group 1).
    "regexpExtract": lambda a: (
        f"regexp_extract({a[0]}, {a[1]}, {a[2] if len(a) > 2 else '1'})"
    ),
    "regexpQuoteMeta": _tpl(
        r"regexp_replace({0}, "
        r"'([\\.\\+\\*\\?\\^\\$\\(\\)\\[\\]\\{{\\}}\\|\\\\])', '\\\\$1')"
    ),
    "firstLine": _tpl("element_at(split({0}, '\\\\n'), 1)"),
    "dayName": _tpl("date_format({0}, 'EEEE')"),
    "daysInMonth": _tpl("day(last_day({0}))"),
    "makeDate": lambda a: (
        f"make_date({', '.join(a)})" if len(a) == 3
        else f"date_add(make_date({a[0]}, 1, 1), cast({a[1]} as int) - 1)"
    ),
    "makeDateTime": _tpl(
        "make_timestamp({0}, {1}, {2}, {3}, {4}, {5})"
    ),
    "makeDateTime64": _tpl(
        "make_timestamp({0}, {1}, {2}, {3}, {4}, {5})"
    ),
    # timestamp(expr): CH's cast-style constructor.
    "timestamp": _cast("timestamp"),
    # toRelative*Num: epoch-aligned period numbers (the comparisons these
    # feed only need a consistent origin). Week stays unmapped — CH
    # aligns weeks to a Thursday-epoch offset.
    "toRelativeYearNum": _tpl("year({0})"),
    "toRelativeMonthNum": _tpl("(year({0}) * 12 + month({0}))"),
    # toRelativeDayNum counts CALENDAR days since epoch (CH's DateLUT is
    # timezone-local) — datediff, not unix div 86400 (which is UTC days
    # and diverges for evening timestamps in non-UTC sessions). A
    # duplicate key used to shadow the datediff rule with the UTC form
    # (found by the round-10 duplicate-key audit).
    "toRelativeDayNum": _tpl("datediff({0}, DATE '1970-01-01')"),
    # weeks advance on MONDAY with week 0 containing 1970-01-01 (a
    # Thursday): +3 shifts the epoch to the containing week's Monday;
    # floor() keeps pre-1970 dates on the grid (round-11 audit — the
    # sibling units were mapped in round 10, week was missed).
    # Pre-1970 divergence vs CH (role-equivalence policy, ADVICE r11):
    # CH truncates toward zero ((d+8-dow)/7), so Sundays-and-earlier of
    # the week containing the epoch differ — 1969-12-28 is -1 here, 0 in
    # CH. floor keeps the 7-day grid uniform across the epoch, which is
    # the property downstream week arithmetic needs.
    "toRelativeWeekNum": _tpl(
        "cast(floor((datediff({0}, DATE '1970-01-01') + 3) / 7) as int)"
    ),
    "toRelativeHourNum": _tpl("cast(floor(unix_timestamp({0}) / 3600) as int)"),
    "toRelativeMinuteNum": _tpl("cast(floor(unix_timestamp({0}) / 60) as int)"),
    "toRelativeSecondNum": _fn("unix_timestamp"),
    # Snowflake ids embed milliseconds since the Twitter epoch in the top
    # 41 bits (CH uses the same 1288834974657 origin).
    "snowflakeToDateTime": lambda a: (
        f"timestamp_millis(shiftright({a[0]}, 22) + 1288834974657)"
    ),
    "dateTimeToSnowflake": _tpl(
        "shiftleft(unix_millis({0}) - 1288834974657, 22)"
    ),
    # UUIDv7: first 48 bits are unix milliseconds.
    "UUIDv7ToDateTime": _tpl(
        "timestamp_millis(cast(conv(substr(replace({0}, '-', ''), 1, 12), "
        "16, 10) as bigint))"
    ),
    "fromUnixTimestamp64Nano": _tpl(
        "timestamp_micros(cast({0} div 1000 as bigint))"
    ),
    "toUnixTimestamp64Nano": _tpl("(unix_micros({0}) * 1000)"),
    "toDecimalString": lambda a: (
        f"cast(cast({a[0]} as decimal(38, {a[1]})) as string)"
    ),
    "formatReadableQuantity": _tpl(
        "CASE WHEN abs({0}) >= 1e12 THEN concat(format_number({0} / 1e12, 2), ' trillion') "
        "WHEN abs({0}) >= 1e9 THEN concat(format_number({0} / 1e9, 2), ' billion') "
        "WHEN abs({0}) >= 1e6 THEN concat(format_number({0} / 1e6, 2), ' million') "
        "WHEN abs({0}) >= 1e3 THEN concat(format_number({0} / 1e3, 2), ' thousand') "
        "ELSE format_number(cast({0} as double), 2) END"
    ),
    "anyLastRespectNulls": _tpl("last({0})"),
    # -- round-9 wave 4: array/map leftovers ------------------------------------
    # Spark's sequence(1, 0) steps BACKWARD — guard the too-short case
    # explicitly instead of clamping the upper bound.
    "arrayShingles": _tpl(
        "CASE WHEN size({0}) < ({1}) THEN slice(array(slice({0}, 1, 0)), 1, 0) "
        "ELSE transform(sequence(1, size({0}) - ({1}) + 1), "
        "i -> slice({0}, i, {1})) END"
    ),
    "arrayJaccardIndex": _tpl(
        "CASE WHEN size({0}) = 0 AND size({1}) = 0 THEN 1.0D ELSE "
        "cast(size(array_intersect({0}, {1})) as double) / "
        "size(array_distinct(concat({0}, {1}))) END"
    ),
    # mapPopulateSeries: fill integer key gaps min..max with 0 defaults.
    # Empty-map guard: sequence(NULL, NULL) is NULL where CH returns the
    # empty map unchanged (ADVICE r9).
    "mapPopulateSeries": _tpl(
        "CASE WHEN size(map_keys({0})) = 0 THEN {0} ELSE "
        "map_from_entries(transform("
        "sequence(array_min(map_keys({0})), array_max(map_keys({0}))), "
        "k -> named_struct('key', k, "
        "'value', coalesce(try_element_at({0}, k), 0)))) END"
    ),
    # -- round-10 wave: previously-loud high-frequency functions ---------------
    "gcd": lambda a: _gcd_expr(a[0], a[1]) if len(a) == 2 else _raise(
        DialectError("gcd takes exactly 2 arguments")
    ),
    "lcm": _lcm_rule,
    "ngramDistance": _ngram_distance(4, chars=False, ci=False),
    "ngramDistanceCaseInsensitive": _ngram_distance(4, chars=False, ci=True),
    "ngramDistanceUTF8": _ngram_distance(3, chars=True, ci=False),
    "ngramDistanceCaseInsensitiveUTF8": _ngram_distance(3, chars=True, ci=True),
    "ngramSearch": _ngram_search(4, chars=False, ci=False),
    "ngramSearchCaseInsensitive": _ngram_search(4, chars=False, ci=True),
    "ngramSearchUTF8": _ngram_search(3, chars=True, ci=False),
    "ngramSearchCaseInsensitiveUTF8": _ngram_search(3, chars=True, ci=True),
    "IPv6StringToNum": _ipv6_string_to_num,
    "toIPv6": _ipv6_string_to_num,
    "IPv6StringToNumOrNull": _ipv6_string_to_num_or(None),
    "toIPv6OrNull": _ipv6_string_to_num_or(None),
    "IPv6StringToNumOrDefault": _ipv6_string_to_num_or("default"),
    "toIPv6OrDefault": _ipv6_string_to_num_or("default"),
    "IPv6NumToString": _ipv6_num_to_string,
    # bind the input once (the grammar references it ~6 times)
    "isIPv6String": lambda a: (
        f"element_at(transform(array(({a[0]})), s6 -> {_ipv6_valid('s6')}), 1)"
    )
    if len(a) == 1
    else _raise(DialectError("isIPv6String takes one argument")),
    "jaroSimilarity": _jaro_similarity,
    # round-11 codec wave: fixed-alphabet algorithms as pure SQL folds
    "base58Encode": _base58_encode,
    "base58Decode": _base58_decode(try_variant=False),
    "tryBase58Decode": _base58_decode(try_variant=True),
    "punycodeEncode": _punycode_encode,
    "punycodeDecode": _punycode_decode(try_variant=False),
    "tryPunycodeDecode": _punycode_decode(try_variant=True),
    "pointInPolygon": _point_in_polygon,
    # batch-4 audit closures
    # bit 63 included: the word is shiftleft(1L, 63) = Long.MIN_VALUE (a
    # CH UInt64 >= 2^63 arrives as a negative bigint) and the mask test
    # is `!= 0`, which is sign-safe — dropping it lost the top bit of
    # negative inputs (ADVICE r11).
    "bitmaskToArray": _tpl(
        "filter(transform(sequence(0, 63), i -> "
        "shiftleft(cast(1 as bigint), i)), b -> (({0}) & b) != 0)"
    ),
    "arrayWithConstant": _swap("array_repeat"),
    "toStringCutToZero": lambda a: (
        f"substring_index({a[0]}, chr(0), 1)"
    ),
    "nothing": lambda a: "NULL",
    "geohashEncode": _geohash_encode,
    "geohashDecode": _geohash_decode,
    # toTimeZone: CH changes the DISPLAY timezone (downstream hour()/
    # toString see target-tz wall clock). Spark's classic idiom shifts
    # the wall clock so session-tz rendering equals target-tz rendering.
    "toTimeZone": lambda a: (
        f"from_utc_timestamp(to_utc_timestamp({a[0]}, "
        f"current_timezone()), {a[1]})"
        if len(a) == 2
        else _raise(DialectError("toTimeZone takes (ts, tz)"))
    ),
    # UUIDs are canonical lowercase strings here (Spark has no UUID type)
    "toUUID": lambda a: (
        f"CASE WHEN ({a[0]}) rlike '{_UUID_RE}' THEN lower({a[0]}) "
        f"ELSE raise_error(concat('toUUID: invalid UUID: ', {a[0]})) END"
    ),
    "toUUIDOrNull": lambda a: (
        f"CASE WHEN ({a[0]}) rlike '{_UUID_RE}' THEN lower({a[0]}) "
        f"ELSE NULL END"
    ),
    "toUUIDOrZero": lambda a: (
        f"CASE WHEN ({a[0]}) rlike '{_UUID_RE}' THEN lower({a[0]}) "
        f"ELSE '00000000-0000-0000-0000-000000000000' END"
    ),
    # base64URL variants: RFC 4648 §5 alphabet swap, padding stripped on
    # encode and restored (to a multiple of 4) before decode.
    "base64URLEncode": _tpl(
        "replace(translate(base64(encode({0}, 'UTF-8')), '+/', '-_'), "
        "'=', '')"
    ),
    "base64URLDecode": _tpl(
        "decode(unbase64(rpad(translate({0}, '-_', '+/'), "
        "cast(ceil(length({0}) / 4.0) * 4 as int), '=')), 'UTF-8')"
    ),
    "normalizeQuery": _normalize_query,
    "normalizeQueryKeepNames": lambda a: _normalize_query(
        a, keep_names=True
    ),
    # hash policy: role-equivalent stable hash of OUR normalized text
    # (cityHash64 policy — documented different values vs CH's SipHash)
    "normalizedQueryHash": lambda a: f"xxhash64({_normalize_query(a)})",
    "normalizedQueryHashKeepNames": lambda a: (
        f"xxhash64({_normalize_query(a, keep_names=True)})"
    ),
    "damerauLevenshteinDistance": _damerau_levenshtein,
    "replaceRegexpOne": _replace_regexp_one,
    "arrayLevenshteinDistance": _array_levenshtein,
    # theilsU: three entropy folds over sorted value/pair arrays; NULL
    # when H(x) = 0. Rank-only output like entropy.
    "theilsU": _theils_u,
    # -- round-10 pass-through sweep: CH spellings that would otherwise
    # resolve to a DIFFERENT Spark function (xxHash64 -> Spark's seed-42
    # xxhash64 silently!) or fail as undefined. Hash mappings follow the
    # cityHash64 policy: role-equivalent stable hash, different values.
    "xxHash64": _fn("xxhash64"),
    "xxh3": _fn("xxhash64"),
    "xxHash32": _fn("hash"),  # 32-bit role: Spark's murmur3 hash()
    "sipHash128": _tpl("unhex(md5({0}))"),  # 128-bit role, 16-byte shape
    "toYYYYMMDDhhmmss": _tpl(
        "cast(date_format({0}, 'yyyyMMddHHmmss') as bigint)"
    ),
    # intExp2/intExp10 are integer powers (CH returns UInt64): a negative
    # exponent floors to 0, and must be guarded explicitly — sequence(1, n)
    # flips to a DESCENDING range for n < 0 (intExp10(-1) would fold over
    # [1, 0, -1] and return 1000), and shiftleft wraps shifts modulo 64.
    "intExp2": _tpl(
        "CASE WHEN ({0}) < 0 THEN 0L "
        "ELSE shiftleft(cast(1 as bigint), {0}) END"
    ),
    "intExp10": _tpl(
        "CASE WHEN ({0}) < 0 THEN 0L WHEN ({0}) = 0 THEN 1L "
        "ELSE aggregate(sequence(1, {0}), 1L, (acc, i) -> acc * 10) END"
    ),
    # rand family: nondeterministic by contract, like randCanonical
    "randUniform": _tpl("(({0}) + rand() * (({1}) - ({0})))"),
    "randNormal": _tpl("(({0}) + randn() * ({1}))"),
    "randBernoulli": _tpl("cast(rand() < ({0}) as int)"),
    "arrayProduct": _tpl("aggregate({0}, 1.0D, (acc, x) -> acc * x)"),
    "arrayRotateRight": _tpl(
        "concat(slice({0}, size({0}) - pmod({1}, greatest(size({0}), 1)) "
        "+ 1, pmod({1}, greatest(size({0}), 1))), "
        "slice({0}, 1, size({0}) - pmod({1}, greatest(size({0}), 1))))"
    ),
    # byteSlice: 1-based byte offsets over the UTF-8 encoding (CH returns
    # the raw bytes as String; multibyte splits yield the same bytes here)
    "byteSlice": _tpl(
        "cast(substring(encode({0}, 'UTF-8'), {1}, {2}) as string)"
    ),
    "format": _ch_format,
    # table functions over data paths (FROM position, like CH)
    "file": _path_table_fn("file", 2),
    "s3": _path_table_fn("s3", 2),
    "url": _path_table_fn("url", 2),
    # untuple(t): expand a tuple/struct into its fields — Spark's `.*`
    # (valid on struct column references in SELECT position, like CH).
    "untuple": _tpl("{0}.*"),
    "formatRow": _format_row(newline=True),
    "formatRowNoNewline": _format_row(newline=False),
    "jaroWinklerSimilarity": _jaro_winkler,
    # entropy(x): Shannon entropy (base 2) of the group's value
    # distribution in ONE aggregate — sorted run-length fold (the
    # groupBitmapXor pattern): H = (ln n − Σ run·ln run / n) / ln 2.
    # Transcendental output — rank with it, don't hash it (SCALE.md).
    "entropy": _entropy_rule,
}

_install_dict_rules(RULES)

# emptyArray<T>() constructors (round-11 audit): typed empty arrays.
for _cht, _st in [
    ("UInt8", "int"), ("UInt16", "int"), ("UInt32", "bigint"),
    ("UInt64", "bigint"), ("Int8", "int"), ("Int16", "int"),
    ("Int32", "int"), ("Int64", "bigint"), ("Float32", "float"),
    ("Float64", "double"), ("String", "string"), ("Date", "date"),
    ("DateTime", "timestamp"),
]:
    RULES[f"emptyArray{_cht}"] = (
        lambda a, _t=_st: f"cast(array() as array<{_t}>)"
    )

# visitParam* are ClickHouse's legacy spellings of the simpleJSON* family
# (same fast-path JSON scan semantics); toIPv4 is the typed spelling of
# the numeric IPv4 conversion.
for _legacy, _modern in [
    ("visitParamExtractString", "simpleJSONExtractString"),
    ("visitParamExtractRaw", "simpleJSONExtractRaw"),
    ("visitParamExtractInt", "simpleJSONExtractInt"),
    ("visitParamExtractFloat", "simpleJSONExtractFloat"),
    ("visitParamExtractBool", "simpleJSONExtractBool"),
    ("visitParamHas", "simpleJSONHas"),
    ("toIPv4", "IPv4StringToNum"),
    # CH's bare vector-math spellings alias the array* forms.
    ("dotProduct", "arrayDotProduct"),
    ("L1Norm", "arrayL1Norm"),
    ("L2Norm", "arrayL2Norm"),
    ("L1Distance", "arrayL1Distance"),
    ("L2Distance", "arrayL2Distance"),
    ("L2SquaredDistance", "arrayL2SquaredDistance"),
    ("LinfDistance", "arrayLinfDistance"),
    ("cosineDistance", "arrayCosineDistance"),
]:
    RULES[_legacy] = RULES[_modern]
del _legacy, _modern

# Parametric aggregates: fn(params)(args).
ParamRule = Callable[[Sequence[str] | None, list[str]], str]


def _quantile_approx(params: Sequence[str] | None, args: list[str]) -> str:
    p = params[0] if params else "0.5"
    return f"percentile_approx({args[0]}, {p})"


def _quantile_exact(params: Sequence[str] | None, args: list[str]) -> str:
    p = params[0] if params else "0.5"
    return f"percentile({args[0]}, {p})"


def _quantiles(exact: bool) -> ParamRule:
    def h(params: Sequence[str] | None, args: list[str]) -> str:
        if not params:
            raise DialectError("quantiles requires level parameters")
        fn = "percentile" if exact else "percentile_approx"
        return f"{fn}({args[0]}, array({', '.join(params)}))"

    return h


def _group_array(params: Sequence[str] | None, args: list[str]) -> str:
    base = f"collect_list({args[0]})"
    return f"slice({base}, 1, {params[0]})" if params else base


def _uniq_up_to(params: Sequence[str] | None, args: list[str]) -> str:
    if not params:
        raise DialectError("uniqUpTo requires a cap parameter")
    return f"least(count(DISTINCT {', '.join(args)}), {params[0]} + 1)"


def _top_k(params: Sequence[str] | None, args: list[str]) -> str:
    """topK(k)(x) → the k most frequent values, most-frequent first. Both
    engines run a bounded-memory heavy-hitter sketch (CH: SpaceSaving;
    Spark: approx_top_k) — approximate with the same shape of guarantee;
    ties rank arbitrarily in both. Exact counts with the candidate set
    bounded below the aggregate: x_heavy_hitters."""
    if len(args) != 1:
        raise DialectError("topK takes one argument (weighted form: "
                           "x_heavy_hitters with a weight pre-aggregation)")
    k = params[0] if params else "10"
    return f"transform(approx_top_k({args[0]}, {k}), s -> s.item)"


def _quantile_exact_merge(params: Sequence[str] | None, args: list[str]) -> str:
    """quantileExactMerge(p)(st): sort the union of the exact value-array
    states and interpolate at p with percentile's own formula
    (lo + frac·(hi − lo)) — the State→Merge rollup then matches the
    one-level quantileExact→percentile translation. The array binds once
    as a lambda variable; empty merged states return NULL."""
    # cast the level to double up front: a bare 0.9 literal is DECIMAL in
    # Spark SQL and would propagate decimal arithmetic into the result,
    # where percentile (the one-level convention) returns DOUBLE.
    p = f"cast({params[0] if params else '0.5'} as double)"
    arr = f"array_sort(flatten(collect_list({args[0]})))"
    lo = f"cast(floor(({p}) * (size(a) - 1)) as int)"
    frac = f"(({p}) * (size(a) - 1) - floor(({p}) * (size(a) - 1)))"
    pick = (
        f"element_at(a, {lo} + 1) + {frac} * "
        f"(element_at(a, least({lo} + 2, size(a))) - element_at(a, {lo} + 1))"
    )
    return (
        f"element_at(transform(array({arr}), a -> "
        f"CASE WHEN size(a) = 0 THEN NULL ELSE {pick} END), 1)"
    )


def _window_funnel_strict_order(w: str, ts: str, conds: list[str]) -> str:
    """``windowFunnel(W, 'strict_order')`` with CH's exact scan semantics
    (AggregateFunctionWindowFunnel.h, the strict-order arm of
    getEventLevel's else-if chain — the same fold x_window_funnel_freeze
    runs): only an event matching NO funnel condition breaks the scan,
    and only after the first step-1 match; condition events never
    interrupt — a repeated step-1 event re-anchors the chain and a
    non-advancing/out-of-window step event passes through. Levels already
    recorded survive the break. The fold is the default-mode
    anchor-propagating fold plus a first-event flag and a dead bit; it
    consumes the group's FULL timeline, so the collect is unfiltered by
    construction here."""
    n = len(conds)
    arr = _seq_sorted_structs(ts, conds)
    init = ", ".join(
        [f"'s{k}', cast(null as timestamp)" for k in range(1, n)]
        + ["'d', 0", "'f', false", "'k', false"]
    )
    any_cond = " OR ".join(f"e.c{k}" for k in range(1, n + 1))
    ok = {
        k: (f"(NOT a.k AND e.c{k} AND a.s{k - 1} IS NOT NULL AND "
            f"e.t <= a.s{k - 1} + INTERVAL '{w}' SECOND)")
        for k in range(2, n + 1)
    }
    sets: list[str] = []
    if n > 1:
        sets.append("'s1', CASE WHEN NOT a.k AND e.c1 THEN "
                    "greatest(a.s1, e.t) ELSE a.s1 END")
    for k in range(2, n):
        sets.append(f"'s{k}', CASE WHEN {ok[k]} THEN "
                    f"greatest(a.s{k}, a.s{k - 1}) ELSE a.s{k} END")
    whens = "".join(
        f" WHEN {ok[k]} THEN {k}" for k in range(n, 1, -1)
    ) + " WHEN NOT a.k AND e.c1 THEN 1"
    sets.append(f"'d', greatest(a.d, CASE{whens} ELSE 0 END)")
    sets.append("'f', (a.f OR e.c1)")
    sets.append(f"'k', (a.k OR (a.f AND NOT ({any_cond})))")
    lam = f"(a, e) -> named_struct({', '.join(sets)})"
    return f"aggregate({arr}, named_struct({init}), {lam}).d"


def _window_funnel_strict_dedup(w: str, ts: str, conds: list[str]) -> str:
    """``windowFunnel(W, 'strict_deduplication')`` with CH's exact scan
    (AggregateFunctionWindowFunnel.h: the strict-dedup arm sits between
    the step-1 re-anchor branch and the advance branch): an event matching
    an ALREADY-RECORDED step k ≥ 2 ends the scan and the RESULT IS k —
    even when a deeper level was recorded before (CH returns the duplicate
    event's number, not the max). Step-1 events never deduplicate (their
    branch precedes the check; they re-anchor), events matching no
    condition pass through freely, and completing the last step
    early-returns N. This deliberately diverges from
    x_window_funnel_dedup's max-over-surviving-chains reading — the frame
    they disagree on is pinned in test_mergetree_properties.py."""
    n = len(conds)
    arr = _seq_sorted_structs(ts, conds)
    init = ", ".join(
        [f"'s{k}', cast(null as timestamp)" for k in range(1, n)]
        + ["'d', 0", "'r', 0", "'k', false"]
    )

    def branch(k: int) -> str:
        nots = "".join(f" AND NOT e.c{j}" for j in range(1, k))
        return f"(e.c{k}{nots})"

    live = "NOT a.k"
    dup = {
        k: f"({live} AND {branch(k)} AND a.d >= {k})"
        for k in range(2, n + 1)
    }
    adv = {
        k: (f"({live} AND {branch(k)} AND NOT (a.d >= {k}) AND "
            f"a.s{k - 1} IS NOT NULL AND "
            f"e.t <= a.s{k - 1} + INTERVAL '{w}' SECOND)")
        for k in range(2, n + 1)
    }
    sets: list[str] = []
    if n > 1:
        sets.append(f"'s1', CASE WHEN {live} AND e.c1 THEN "
                    "greatest(a.s1, e.t) ELSE a.s1 END")
    for k in range(2, n):
        sets.append(f"'s{k}', CASE WHEN {adv[k]} THEN "
                    f"greatest(a.s{k}, a.s{k - 1}) ELSE a.s{k} END")
    d_whens = "".join(
        f" WHEN {adv[k]} THEN {k}" for k in range(n, 1, -1)
    ) + f" WHEN {live} AND e.c1 THEN 1"
    sets.append(f"'d', greatest(a.d, CASE{d_whens} ELSE 0 END)")
    r_whens = "".join(f" WHEN {dup[k]} THEN {k}" for k in range(2, n + 1))
    if n >= 2:
        r_whens += f" WHEN {adv[n]} THEN {n}"
    sets.append(f"'r', CASE WHEN a.r > 0 THEN a.r{r_whens} ELSE 0 END")
    enders = list(dup.values()) + ([adv[n]] if n >= 2 else [])
    sets.append(f"'k', (a.k OR {' OR '.join(enders) if enders else 'false'})")
    lam = f"(a, e) -> named_struct({', '.join(sets)})"
    st = f"aggregate({arr}, named_struct({init}), {lam})"
    return (
        f"element_at(transform(array({st}), a -> "
        "CASE WHEN a.r > 0 THEN a.r ELSE a.d END), 1)"
    )


def _window_funnel_strict_increase(w: str, ts: str, conds: list[str]) -> str:
    """``windowFunnel(W, 'strict_increase')`` (round 9): the default fold
    plus CH's strictly-increasing-timestamp condition on every advance
    (``events_timestamp[k-1]->second < timestamp``) — an event at the SAME
    timestamp as the step before it cannot extend the chain. State adds
    the level's own latest event timestamp (p_k) next to the chain anchor
    (s_k); the overwrite-equals-max argument holds for both (later valid
    events carry later values)."""
    n = len(conds)
    arr = _seq_sorted_structs(ts, conds)
    init = ", ".join(
        [f"'s{k}', cast(null as timestamp)" for k in range(1, n)]
        + [f"'p{k}', cast(null as timestamp)" for k in range(2, n)]
        + ["'d', 0"]
    )
    # p1 == s1 (a level-1 event is its own anchor); pK tracked for 2..n-1.
    prev = {1: "a.s1"}
    prev.update({k: f"a.p{k}" for k in range(2, n)})
    ok = {
        k: (f"(e.c{k} AND a.s{k - 1} IS NOT NULL AND "
            f"e.t <= a.s{k - 1} + INTERVAL '{w}' SECOND AND "
            f"{prev[k - 1]} < e.t)")
        for k in range(2, n + 1)
    }
    sets: list[str] = []
    if n > 1:
        sets.append("'s1', CASE WHEN e.c1 THEN greatest(a.s1, e.t) "
                    "ELSE a.s1 END")
    for k in range(2, n):
        sets.append(f"'s{k}', CASE WHEN {ok[k]} THEN "
                    f"greatest(a.s{k}, a.s{k - 1}) ELSE a.s{k} END")
        sets.append(f"'p{k}', CASE WHEN {ok[k]} THEN "
                    f"greatest(a.p{k}, e.t) ELSE a.p{k} END")
    whens = "".join(
        f" WHEN {ok[k]} THEN {k}" for k in range(n, 1, -1)
    ) + " WHEN e.c1 THEN 1"
    sets.append(f"'d', greatest(a.d, CASE{whens} ELSE 0 END)")
    lam = f"(a, e) -> named_struct({', '.join(sets)})"
    return f"aggregate({arr}, named_struct({init}), {lam}).d"


def _window_funnel_combined(
    w: str, ts: str, conds: list[str], modes: "set[str]"
) -> str:
    """Combined windowFunnel mode strings (round 12, r11 verdict item 5):
    any subset of {strict_order, strict_deduplication, strict_increase}
    composed into ONE scan fold — the composition is a conjunction in the
    scan conditions, exactly as the modes compose in CH's single else-if
    chain (each mode's arm sits at the same position it holds in the
    single-mode folds above):

    - step-1 events re-anchor first (exempt from dedup, reset nothing);
    - strict_deduplication's already-recorded check precedes the advance
      and ends the scan returning the duplicate step's number;
    - the advance condition is the default anchor-window check AND
      (strict_increase) prev level's latest event ts < this ts, with
      (strict_deduplication) first-matching-condition priority;
    - strict_order's dead bit trips on no-condition events after the
      first step-1 match; levels recorded survive every break.

    Each pairwise composition degenerates to the matching single-mode
    fold when the other mode's events never occur — pinned by the
    combined-mode transcription property tests."""
    n = len(conds)
    so = "strict_order" in modes
    sd = "strict_deduplication" in modes
    si = "strict_increase" in modes
    arr = _seq_sorted_structs(ts, conds)
    fields = [f"'s{k}', cast(null as timestamp)" for k in range(1, n)]
    if si:
        fields += [f"'p{k}', cast(null as timestamp)" for k in range(2, n)]
    fields += ["'d', 0"]
    if sd:
        fields += ["'r', 0"]
    if so:
        fields += ["'f', false"]
    fields += ["'k', false"]
    init = ", ".join(fields)
    live = "NOT a.k"
    any_cond = " OR ".join(f"e.c{k}" for k in range(1, n + 1))

    def branch(k: int) -> str:
        # first-matching-condition priority (the dedup fold's reading —
        # _seq_sorted_structs stores one entry per event at its lowest
        # matched condition)
        nots = "".join(f" AND NOT e.c{j}" for j in range(1, k))
        return f"(e.c{k}{nots})"

    cond_evt = {k: (branch(k) if sd else f"e.c{k}") for k in range(2, n + 1)}
    prev_last = {1: "a.s1"}
    prev_last.update({k: f"a.p{k}" for k in range(2, n)})
    dup = (
        {k: f"({live} AND {branch(k)} AND a.d >= {k})" for k in range(2, n + 1)}
        if sd
        else {}
    )
    adv: dict[int, str] = {}
    for k in range(2, n + 1):
        parts = [live, cond_evt[k]]
        if sd:
            parts.append(f"NOT (a.d >= {k})")
        parts.append(f"a.s{k - 1} IS NOT NULL")
        parts.append(f"e.t <= a.s{k - 1} + INTERVAL '{w}' SECOND")
        if si:
            parts.append(f"{prev_last[k - 1]} < e.t")
        adv[k] = "(" + " AND ".join(parts) + ")"
    step1 = f"({live} AND e.c1)"
    sets: list[str] = []
    if n > 1:
        sets.append(f"'s1', CASE WHEN {step1} THEN greatest(a.s1, e.t) "
                    "ELSE a.s1 END")
    for k in range(2, n):
        sets.append(f"'s{k}', CASE WHEN {adv[k]} THEN "
                    f"greatest(a.s{k}, a.s{k - 1}) ELSE a.s{k} END")
    if si:
        for k in range(2, n):
            sets.append(f"'p{k}', CASE WHEN {adv[k]} THEN "
                        f"greatest(a.p{k}, e.t) ELSE a.p{k} END")
    whens = "".join(
        f" WHEN {adv[k]} THEN {k}" for k in range(n, 1, -1)
    ) + f" WHEN {step1} THEN 1"
    sets.append(f"'d', greatest(a.d, CASE{whens} ELSE 0 END)")
    if sd:
        r_whens = "".join(f" WHEN {dup[k]} THEN {k}" for k in range(2, n + 1))
        if n >= 2:
            r_whens += f" WHEN {adv[n]} THEN {n}"
        sets.append(f"'r', CASE WHEN a.r > 0 THEN a.r{r_whens} ELSE 0 END")
    if so:
        sets.append("'f', (a.f OR e.c1)")
    enders: list[str] = []
    if so:
        enders.append(f"(a.f AND NOT ({any_cond}))")
    if sd:
        enders += list(dup.values()) + ([adv[n]] if n >= 2 else [])
    sets.append(f"'k', (a.k OR {' OR '.join(enders) if enders else 'false'})")
    lam = f"(a, e) -> named_struct({', '.join(sets)})"
    st = f"aggregate({arr}, named_struct({init}), {lam})"
    if sd:
        return (
            f"element_at(transform(array({st}), a -> "
            "CASE WHEN a.r > 0 THEN a.r ELSE a.d END), 1)"
        )
    return f"{st}.d"


def _window_funnel(params: Sequence[str] | None, args: list[str]) -> str:
    """``windowFunnel(W)(ts, c1, …, cN)`` (default mode, round 8): CH's own
    sorted-scan algorithm generated as a SQL fold — collect the per-group
    events as (t, c1…cN) structs, array_sort, then ``aggregate`` with the
    latest-chain-start-per-depth state (later starts extend strictly more
    easily, so max is lossless; the same fold x_window_funnel runs via the
    DataFrame API). One ordinary partial-aggregated collect per group, no
    join, no UDF. Single mode arguments each generate their CH-exact fold
    ('strict_order' / 'strict_deduplication' / 'strict_increase');
    combined modes stay loud. Equal-timestamp events order by
    (timestamp, event number) — CH's own pair sort (see
    _seq_sorted_structs)."""
    if not params or not re.fullmatch(r"\d+", params[0]):
        raise DialectError(
            "windowFunnel needs a literal window (seconds) parameter"
        )
    # Modes: CH passes each as its own parameter (windowFunnel(W, 'a',
    # 'b')) and rejects a comma-joined single string as an unknown mode —
    # so does this shim (ADVICE r12: accepting the comma spelling would
    # silently bless SQL that is invalid upstream). Combined modes
    # compose into one scan fold since round 12.
    modes: set[str] = set()
    known = ("strict_order", "strict_deduplication", "strict_increase")
    for p in (params or [])[1:]:
        m = p.strip("'\"").strip()
        if m not in known:
            hint = (
                " (pass each mode as its own parameter, e.g. "
                "windowFunnel(W, 'strict_order', 'strict_increase') — "
                "ClickHouse rejects comma-joined mode strings too)"
                if "," in m
                else ""
            )
            raise DialectError(
                f"windowFunnel mode {m!r} is not one of "
                "'strict_order' / 'strict_deduplication' / "
                f"'strict_increase'{hint}"
            )
        modes.add(m)
    if len(args) < 2:
        raise DialectError("windowFunnel takes (timestamp, cond1, …)")
    w, ts, conds = params[0], args[0], args[1:]
    n = len(conds)
    if len(modes) > 1:
        return _window_funnel_combined(w, ts, conds, modes)
    mode = next(iter(modes)) if modes else None
    if mode == "strict_order":
        return _window_funnel_strict_order(w, ts, conds)
    if mode == "strict_deduplication":
        return _window_funnel_strict_dedup(w, ts, conds)
    if mode == "strict_increase":
        return _window_funnel_strict_increase(w, ts, conds)
    arr = _seq_sorted_structs(ts, conds)
    init = ", ".join(
        [f"'s{k}', cast(null as timestamp)" for k in range(1, n)]
        + ["'d', 0"]
    )
    ok = {
        k: (f"(e.c{k} AND a.s{k - 1} IS NOT NULL AND "
            f"e.t <= a.s{k - 1} + INTERVAL '{w}' SECOND)")
        for k in range(2, n + 1)
    }
    sets: list[str] = []
    if n > 1:
        sets.append("'s1', CASE WHEN e.c1 THEN greatest(a.s1, e.t) "
                    "ELSE a.s1 END")
    for k in range(2, n):
        sets.append(f"'s{k}', CASE WHEN {ok[k]} THEN "
                    f"greatest(a.s{k}, a.s{k - 1}) ELSE a.s{k} END")
    whens = "".join(
        f" WHEN {ok[k]} THEN {k}" for k in range(n, 1, -1)
    ) + " WHEN e.c1 THEN 1"
    sets.append(f"'d', greatest(a.d, CASE{whens} ELSE 0 END)")
    lam = f"(a, e) -> named_struct({', '.join(sets)})"
    return f"aggregate({arr}, named_struct({init}), {lam}).d"


_SEQ_PATTERN_RE = re.compile(r"\(\?(\d+)\)|\.\*|\(\?t\s*([<>]=?|==?)\s*(\d+)\)")


def _parse_seq_pattern(
    params: Sequence[str] | None, fn: str
) -> tuple[int, list[str | None]]:
    """Validate a pattern of (?k) refs separated by '.*' or a single
    '(?t<=n)' gap bound; return (steps, gaps) where gaps[k] is the
    seconds bound between ref k+1 and ref k+2 (None = unbounded)."""
    if not params or not (params[0].startswith("'") and params[0].endswith("'")):
        raise DialectError(f"{fn} needs a pattern string parameter")
    pat = params[0][1:-1]
    steps = 0
    pos = 0
    sep: str | None = "start"  # separator seen since the last ref
    gaps: list[str | None] = []
    for m in _SEQ_PATTERN_RE.finditer(pat):
        if m.start() != pos:
            raise DialectError(f"{fn}: unsupported pattern {pat!r}")
        pos = m.end()
        tok = m.group(0)
        if tok == ".*":
            sep = ".*" if sep is None else sep
            continue
        if tok.startswith("(?t"):
            if m.group(2) != "<=":
                raise DialectError(
                    f"{fn}: only (?t<=n) upper gap bounds translate — "
                    "strict/lower bounds have no latest-anchor fold"
                )
            if sep is not None and sep != "start":
                raise DialectError(
                    f"{fn}: one gap bound per step pair in {pat!r}"
                )
            sep = m.group(3)
            continue
        if sep is None:
            # CH's bare (?1)(?2) adjacency constrains the NEXT raw event,
            # a different (stricter) contract than the subsequence fold.
            raise DialectError(
                f"{fn}: adjacent refs without '.*' impose CH's "
                "next-raw-event adjacency — write '(?1).*(?2)' for the "
                "subsequence reading, or use the x_window_funnel_strict "
                "shape for interleaving-sensitive chains"
            )
        if steps > 0:
            gaps.append(None if sep in (".*",) else sep)
        sep = None
        steps += 1
        if int(m.group(1)) != steps:
            raise DialectError(
                f"{fn}: pattern refs must be (?1)…(?N) in order"
            )
    if pos != len(pat) or steps == 0:
        raise DialectError(f"{fn}: unsupported pattern {pat!r}")
    return steps, gaps


def _seq_sorted_structs(ts: str, conds: list[str]) -> str:
    """Per-group sorted event array for the sequence/funnel folds. The
    second struct field 'e' is the lowest matched condition NUMBER (0 for
    no-condition events), so equal-timestamp events order by
    (timestamp, event_number) — exactly CH's pair sort of its events_list
    (AggregateFunctionWindowFunnel.h sorts (timestamp, event_number)
    pairs lexicographically): step-1 before step-2 at ties, unmatched
    events first. Known divergence: an event matching SEVERAL conditions
    is stored once here (processed at its lowest number) where CH stores
    one entry per matched condition."""
    num = "".join(
        f" WHEN ({c}) THEN {i + 1}" for i, c in enumerate(conds)
    )
    fields = ", ".join(
        [f"'t', cast({ts} as timestamp)", f"'e', CASE{num} ELSE 0 END"]
        + [f"'c{i + 1}', ({c})" for i, c in enumerate(conds)]
    )
    return f"array_sort(collect_list(named_struct({fields})))"


def _sequence_match(params: Sequence[str] | None, args: list[str]) -> str:
    """``sequenceMatch('(?1).*(?2)')(ts, c1, c2)`` (round 8): ordered-
    subsequence existence per group. Untimed patterns fold as a greedy
    level counter (earliest-first is EXACT for existence —
    x_sequence_match's argument). ``(?t<=n)`` gap bounds switch to the
    latest-valid-anchor fold (x_sequence_match_timed's rule): state keeps
    the LATEST timestamp reaching each level — all anchors precede the
    probe event, so the latest one simultaneously maximizes the gap
    budget, making the single-anchor state exact; greedy is provably
    wrong there. One collect per group, no join, no UDF. Equal-timestamp
    steps order by (timestamp, event number) — CH's own pair sort (timed
    chains additionally require strictly increasing timestamps, as CH
    does)."""
    n, gaps = _parse_seq_pattern(params, "sequenceMatch")
    if len(args) != n + 1:
        raise DialectError(
            f"sequenceMatch: pattern has {n} steps, needs (timestamp, "
            f"{n} conditions)"
        )
    arr = _seq_sorted_structs(args[0], args[1:])
    if not any(g is not None for g in gaps):
        case = "CASE a" + "".join(
            f" WHEN {k - 1} THEN e.c{k}" for k in range(1, n + 1)
        ) + " ELSE false END"
        return (
            f"(aggregate({arr}, 0, (a, e) -> CASE WHEN a < {n} AND ({case}) "
            f"THEN a + 1 ELSE a END) = {n})"
        )
    init = ", ".join(
        f"'t{k}', cast(null as timestamp)" for k in range(1, n + 1)
    )
    sets = ["'t1', CASE WHEN e.c1 THEN greatest(a.t1, e.t) ELSE a.t1 END"]
    for k in range(2, n + 1):
        g = gaps[k - 2]
        bound = (
            f" AND e.t <= a.t{k - 1} + INTERVAL '{g}' SECOND"
            if g is not None else ""
        )
        sets.append(
            f"'t{k}', CASE WHEN e.c{k} AND a.t{k - 1} IS NOT NULL AND "
            f"e.t > a.t{k - 1}{bound} THEN greatest(a.t{k}, e.t) "
            f"ELSE a.t{k} END"
        )
    lam = f"(a, e) -> named_struct({', '.join(sets)})"
    return (
        f"(aggregate({arr}, named_struct({init}), {lam}).t{n} IS NOT NULL)"
    )


def _sequence_count(params: Sequence[str] | None, args: list[str]) -> str:
    """``sequenceCount('(?1).*(?2)')(ts, c1, c2)`` (round 9): CH's exact
    non-overlapping resume-after-match scan
    (AggregateFunctionSequenceMatch's countImpl re-runs the matcher from
    just past each completed match): a step-1 event opens a chain only
    when none is open, the next step-2 event completes it, and events
    inside a completed match's span are never reused — [c1, c1, c2, c2]
    counts 1 (the second c1 lies inside the first chain's span), where
    greedy PAIRING would count 2. The pairing contract (every c1 redeems
    a later c2 — its closed form needs no fold at all) is the different,
    documented contract x_sequence_count implements. Two-step patterns
    only; deeper patterns stay loud."""
    n, gaps = _parse_seq_pattern(params, "sequenceCount")
    if n != 2 or any(g is not None for g in gaps):
        raise DialectError(
            "sequenceCount: only the two-step '(?1).*(?2)' form has the "
            "resume-after-match fold; see x_sequence_count for the "
            "greedy-pairing contract"
        )
    if len(args) != 3:
        raise DialectError("sequenceCount takes (timestamp, cond1, cond2)")
    arr = _seq_sorted_structs(args[0], args[1:])
    # 'o': a chain is open (a step-1 consumed, its step-2 still pending).
    # Completion is checked FIRST: an event matching both conditions
    # closes an open chain (CH's matcher is at the (?2) action there) and
    # opens one otherwise (the (?1) action consumes it).
    step = (
        "(a, e) -> named_struct("
        "'o', CASE WHEN a.o AND e.c2 THEN false "
        "WHEN NOT a.o AND e.c1 THEN true ELSE a.o END, "
        "'m', CASE WHEN a.o AND e.c2 THEN a.m + 1 ELSE a.m END)"
    )
    return (
        f"aggregate({arr}, named_struct('o', false, 'm', "
        f"cast(0 as bigint)), {step}).m"
    )


def _max_intersections(
    params: Sequence[str] | None, args: list[str], position: bool = False
) -> str:
    """``maxIntersections(start, end)`` (round 9): the peak number of
    simultaneously open intervals — CH sweeps the sorted (point, ±1)
    event list (AggregateFunctionMaxIntersections.h), ends sorting before
    starts at equal points (touching intervals do not overlap), and
    ``maxIntersectionsPosition`` returns the start point that FIRST
    attains the peak. Generated as one fold over the concatenated sorted
    (p, d) structs — a single partial-aggregated collect per group, the
    same single-exchange shape as the funnel folds."""
    if params:
        raise DialectError("maxIntersections takes no parameters")
    if len(args) != 2:
        raise DialectError("maxIntersections takes (start, end)")
    s, e = args
    arr = (
        "array_sort(concat("
        f"transform(collect_list({s}), p -> named_struct('p', p, 'd', 1)), "
        f"transform(collect_list({e}), p -> named_struct('p', p, 'd', -1))"
        "))"
    )
    # 'pos' starts as a NULL of the start expression's own type:
    # try_element_at over an empty slice of the array yields a NULL
    # struct whose .p carries exactly that type.
    fold = (
        "aggregate(a, named_struct('c', cast(0 as bigint), "
        "'m', cast(0 as bigint), "
        "'pos', try_element_at(slice(a, 1, 0), 1).p), "
        "(s, x) -> named_struct('c', s.c + x.d, "
        "'m', greatest(s.m, s.c + x.d), "
        "'pos', CASE WHEN s.c + x.d > s.m THEN x.p ELSE s.pos END))"
    )
    field = "pos" if position else "m"
    return (
        f"element_at(transform(array({arr}), a -> {fold}.{field}), 1)"
    )


def _max_intersections_position(
    params: Sequence[str] | None, args: list[str]
) -> str:
    return _max_intersections(params, args, position=True)


def _group_array_sorted(params: Sequence[str] | None, args: list[str]) -> str:
    """``groupArraySorted(N)(x)``: the N smallest values in ascending
    order — exact and deterministic on both engines (unlike the
    insertion-order groupArray* family)."""
    if not params or len(params) != 1:
        raise DialectError("groupArraySorted needs a literal N parameter")
    if len(args) != 1:
        raise DialectError("groupArraySorted takes one argument")
    return f"slice(array_sort(collect_list({args[0]})), 1, {params[0]})"


def _quantile_gk(params: Sequence[str] | None, args: list[str]) -> str:
    """``quantileGK(accuracy, level)(x)``: Greenwald-Khanna sketch — Spark's
    approx_percentile IS a GK variant, with the same accuracy knob."""
    acc = params[0] if params else "100"
    level = params[1] if params and len(params) > 1 else "0.5"
    return f"approx_percentile({args[0]}, {level}, {acc})"


def _sequence_next_node(params: Sequence[str] | None, args: list[str]) -> str:
    """``sequenceNextNode(direction, base)(ts, value, base_cond, e1, …)``
    (round 9): CH's next-event-after-a-matched-chain aggregate
    (AggregateFunctionSequenceNextNode.h). The chain is strictly
    CONSECUTIVE in the sorted timeline: the base event (head = the first
    event; first_match = the first event satisfying e1) must satisfy the
    base condition and e1, the following events must satisfy e2 … eN in
    order, and the result is ``value`` of the event immediately after the
    chain (NULL when the chain fails or nothing follows — no retry at a
    later base, exactly CH's single-base scan). backward+tail /
    backward+last_match run the same logic over the REVERSED timeline.
    Generated as pure array expressions over one sorted collect — a
    single partial-aggregated exchange per group, no join, no UDF; the
    sorted struct binds once via the transform(array(…)) trick.
    Equal-timestamp events order by (timestamp, lowest matched event
    number, base flag) — the same pair-sort convention as the funnel
    folds (_seq_sorted_structs)."""
    if not params or len(params) != 2:
        raise DialectError(
            "sequenceNextNode takes (direction, base) parameters"
        )
    direction = params[0].strip("'\"")
    base = params[1].strip("'\"")
    valid = {
        ("forward", "head"), ("forward", "first_match"),
        ("backward", "tail"), ("backward", "last_match"),
    }
    if (direction, base) not in valid:
        raise DialectError(
            "sequenceNextNode: direction/base must be forward+head, "
            "forward+first_match, backward+tail, or backward+last_match "
            "(CH pairs them the same way)"
        )
    if len(args) < 4:
        raise DialectError(
            "sequenceNextNode takes (timestamp, event_column, "
            "base_condition, event1, …)"
        )
    ts, val, base_cond, conds = args[0], args[1], args[2], args[3:]
    n = len(conds)
    num = "".join(f" WHEN ({c}) THEN {k + 1}" for k, c in enumerate(conds))
    fields = ", ".join(
        [f"'t', cast({ts} as timestamp)", f"'e', CASE{num} ELSE 0 END",
         f"'b', ({base_cond})"]
        + [f"'c{k + 1}', ({c})" for k, c in enumerate(conds)]
        + [f"'v', ({val})"]
    )
    arr = f"array_sort(collect_list(named_struct({fields})))"
    if direction == "backward":
        arr = f"reverse({arr})"
    if base in ("head", "tail"):
        # base index is 1; try_element_at keeps empty timelines NULL-safe
        # under ANSI (AND does not short-circuit in codegen).
        checks = ["try_element_at(a, 1).b"] + [
            f"try_element_at(a, {k}).c{k}" for k in range(1, n + 1)
        ]
        expr = (
            f"CASE WHEN {' AND '.join(checks)} "
            f"THEN try_element_at(a, {n + 1}).v END"
        )
    else:
        chain = " AND ".join(
            f"try_element_at(a, j + {k - 1}).c{k}" for k in range(2, n + 1)
        ) or "true"
        expr = (
            "element_at(transform(array(try_element_at(filter("
            "sequence(1, greatest(size(a), 1)), i -> "
            "coalesce(try_element_at(a, i).b AND try_element_at(a, i).c1, "
            "false)), 1)), j -> CASE WHEN j IS NOT NULL AND {chain} "
            "THEN try_element_at(a, j + {n}).v END), 1)"
        ).replace("{chain}", chain).replace("{n}", str(n))
    return f"element_at(transform(array({arr}), a -> {expr}), 1)"


def _quantile_disc_low(params: Sequence[str] | None, args: list[str]) -> str:
    """CH quantileExactLow picks the order statistic at ceil(p·n) (python
    median_low) — exactly Spark's percentile_disc contract."""
    p = params[0] if params else "0.5"
    return f"percentile_disc({p}) WITHIN GROUP (ORDER BY {args[0]})"


def _quantile_disc_high(params: Sequence[str] | None, args: list[str]) -> str:
    """quantileExactHigh is the mirror pick (median_high): the same
    selection over the DESCENDING order at level 1-p."""
    p = params[0] if params else "0.5"
    return (
        f"percentile_disc(1 - ({p})) WITHIN GROUP (ORDER BY {args[0]} DESC)"
    )


PARAM_RULES: dict[str, ParamRule] = {
    "quantile": _quantile_approx,
    "quantileTDigest": _quantile_approx,
    "quantileTiming": _quantile_approx,
    "quantileDeterministic": _quantile_approx,
    "quantileExact": _quantile_exact,
    "quantileExactLow": _quantile_disc_low,
    "quantileExactHigh": _quantile_disc_high,
    # Parametric State/Merge spellings: the level rides the type on the
    # State side (`quantileExactState(0.5)(x)`) and drives the pick on
    # the Merge side (`quantileExactMerge(0.9)(st)`).
    "quantileExactState": lambda params, args: f"collect_list({args[0]})",
    "quantileExactMerge": _quantile_exact_merge,
    "quantiles": _quantiles(exact=False),
    "quantilesExact": _quantiles(exact=True),
    "quantilesTiming": _quantiles(exact=False),
    "quantilesTDigest": _quantiles(exact=False),
    "quantilesDeterministic": _quantiles(exact=False),
    "groupArray": _group_array,
    "uniqUpTo": _uniq_up_to,
    "topK": _top_k,
    "windowFunnel": _window_funnel,
    "sumMapFiltered": _sum_map_filtered,
    "sequenceMatch": _sequence_match,
    "sequenceCount": _sequence_count,
    "sequenceNextNode": _sequence_next_node,
    "groupArraySorted": _group_array_sorted,
    "quantileGK": _quantile_gk,
    # BFloat16 quantile: a 16-bit-precision histogram sketch in CH — the
    # closest Spark analogue is the same approx_percentile sketch (both
    # trade exactness for bounded state; documented approximation).
    "quantileBFloat16": _quantile_approx,
    # Weighted exact quantile: Spark's percentile takes a frequency third
    # argument (weight-repeated rows). Same documented divergence as
    # quantileExact → percentile: Spark interpolates between order
    # statistics where CH picks one — ranks differ by at most one element.
    "quantileExactWeighted": lambda params, args: (
        f"percentile({args[0]}, {params[0] if params else '0.5'}, {args[1]})"
    ),
    "quantilesExactWeighted": lambda params, args: (
        f"percentile({args[0]}, array({', '.join(params or ['0.5'])}), {args[1]})"
    ),
    # Timing/TDigest weighted variants: same weighted-percentile role; the
    # exact form is the closest Spark aggregate (documented: CH's are
    # approximate, this is exact — a strictly tighter answer).
    "quantileTimingWeighted": lambda params, args: (
        f"percentile({args[0]}, {params[0] if params else '0.5'}, {args[1]})"
    ),
    "quantileTDigestWeighted": lambda params, args: (
        f"percentile({args[0]}, {params[0] if params else '0.5'}, {args[1]})"
    ),
    "quantileInterpolatedWeighted": lambda params, args: (
        f"percentile({args[0]}, {params[0] if params else '0.5'}, {args[1]})"
    ),
}

# Aggregate bases eligible for the -If combinator -> FILTER (WHERE ...).
_IF_BASES = {
    "count", "sum", "avg", "min", "max", "any", "anyLast", "argMax", "argMin",
    "uniq", "median", "groupArray", "groupUniqArray", "stddevPop",
    "stddevSamp", "varPop", "varSamp", "corr", "covarPop", "covarSamp",
    # -Array -If composition (sumArrayIf etc.) for the -Array rules whose
    # body is a single aggregate call FILTER can attach to (avgArray and
    # groupArrayArray expand to compound expressions and stay If-less)
    "sumArray", "minArray", "maxArray",
}

# Aggregates whose Spark translation already yields NULL over empty/all-null
# input, so the -OrNull combinator is the identity. Count-like bases are
# excluded on purpose: Spark count/count-distinct return 0, not NULL.
_OR_NULL_BASES = {
    "sum", "avg", "min", "max", "any", "anyLast", "argMax", "argMin",
    "median", "stddevPop", "stddevSamp", "varPop", "varSamp", "corr",
    "covarPop", "covarSamp",
}

# -State/-Merge combinators: ClickHouse's AggregatingMergeTree contract is
# "store a mergeable partial state, re-merge it at read time". Two families
# translate faithfully to Spark SQL:
#   * the uniq family — a CH uniq state is an HLL-style register file merged
#     by register-max; Spark's hll_sketch_agg / hll_union_agg /
#     hll_sketch_estimate are the same algebra (associative, idempotent), so
#     a two-level State->Merge rollup is bit-identical to aggregating once;
#   * value-state aggregates — sum/count/min/max partial state IS the running
#     value, merged by sum/sum/min/max respectively.
# Composite states (avgState = (sum, count) pair, quantileState = a t-digest
# Spark SQL cannot read) stay loud DialectErrors with the decomposition hint.
_UNIQ_STATE_BASES = {"uniq", "uniqCombined", "uniqCombined64", "uniqHLL12"}
_VALUE_STATE_MERGE = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}


def _state_merge(name: str, args: list[str]) -> str | None:
    for suffix in ("MergeState", "Merge", "State"):  # longest first
        if name.endswith(suffix):
            base = name[: -len(suffix)]
            break
    else:
        return None
    if base in _UNIQ_STATE_BASES:
        if suffix == "State":
            if len(args) != 1:
                raise DialectError(
                    f"{name}: exactly one argument translates to "
                    "hll_sketch_agg (multi-column uniq states do not)"
                )
            return f"hll_sketch_agg({args[0]})"
        if len(args) != 1:
            raise DialectError(f"{name} takes exactly one state column")
        if suffix == "MergeState":
            return f"hll_union_agg({args[0]})"
        return f"hll_sketch_estimate(hll_union_agg({args[0]}))"
    if base in _VALUE_STATE_MERGE:
        if suffix == "State":
            # The partial state is the value itself: countState() -> count(*).
            return _apply_function(base, args, None)
        if len(args) != 1:
            raise DialectError(f"{name} takes exactly one state column")
        return f"{_VALUE_STATE_MERGE[base]}({args[0]})"
    if base == "groupArray":
        # The groupArray state IS the array; re-merge by concatenation.
        # Element order across merged states is arbitrary — exactly CH's
        # own groupArray contract under distributed aggregation.
        if len(args) != 1:
            raise DialectError(f"{name} takes exactly one argument")
        if suffix == "State":
            return f"collect_list({args[0]})"
        return f"flatten(collect_list({args[0]}))"
    if base == "quantileExact":
        # State = the exact value array; Merge re-sorts the union and
        # interpolates with Spark percentile's own formula (the same
        # documented quantileExact→percentile convention the one-level
        # translation uses). Default level 0.5 like CH.
        if len(args) != 1:
            raise DialectError(f"{name} takes exactly one argument")
        if suffix == "State":
            return f"collect_list({args[0]})"
        if suffix == "MergeState":
            return f"flatten(collect_list({args[0]}))"
        return _quantile_exact_merge(None, args)
    if base == "uniqExact":
        # CH's uniqExact state is the exact value set; the Spark state is
        # a collect_set array, re-merged by flatten + array_distinct —
        # associative and idempotent like CH's hash-set union, so any
        # rollup nesting equals counting once. State size is O(distinct),
        # the same burden CH carries for uniqExact — for high-cardinality
        # keys prefer uniqState/uniqMerge (HLL sketch states: bounded
        # bytes per group, bit-identical rollups, ~2% error), the same
        # trade CH users make between uniqExact and uniq.
        if len(args) != 1:
            raise DialectError(
                f"{name} takes exactly one argument (bounded-state "
                "alternative: uniqState/uniqMerge — HLL)"
            )
        if suffix == "State":
            return f"collect_set({args[0]})"
        if suffix == "MergeState":
            return f"array_distinct(flatten(collect_list({args[0]})))"
        return (
            f"cast(size(array_distinct(flatten(collect_list({args[0]})))) "
            f"as bigint)"
        )
    if base == "groupBitmap":
        # CH's groupBitmap state is a roaring bitmap; the shim's bitmap
        # value is the canonical sorted distinct array (see the bitmap
        # family in RULES), so State = sorted set, Merge = distinct-union
        # cardinality. Union is associative and idempotent — any rollup
        # nesting equals building the bitmap once, CH's own algebra.
        # State size is O(distinct members) per group — exactly CH's own
        # groupBitmap memory shape; for corpus-scale member sets prefer
        # uniqState/uniqMerge with the same query text (HLL sketch states:
        # bounded bytes per group, bit-identical rollups, ~2% error).
        if len(args) != 1:
            raise DialectError(
                f"{name} takes exactly one argument (bounded-state "
                "alternative: uniqState/uniqMerge — HLL)"
            )
        if suffix == "State":
            return f"array_sort(collect_set({args[0]}))"
        if suffix == "MergeState":
            return f"array_sort(array_distinct(flatten(collect_list({args[0]}))))"
        return (
            f"cast(size(array_distinct(flatten(collect_list({args[0]})))) "
            f"as bigint)"
        )
    if base == "avg":
        # CH's avg state is the (sum, count) pair — representable as a
        # plain struct column, re-merged by summing each component. This
        # is CH's own decomposition (AggregateFunction(avg, T) stores
        # exactly these two numbers), so a two-level State->Merge rollup
        # equals aggregating once whenever the sums are exact (integers /
        # decimals; doubles differ only by float association, same as CH).
        if suffix == "State":
            if len(args) != 1:
                raise DialectError("avgState takes exactly one argument")
            return (
                f"named_struct('sum', sum({args[0]}), "
                f"'count', count({args[0]}))"
            )
        if len(args) != 1:
            raise DialectError(f"{name} takes exactly one state column")
        if suffix == "MergeState":
            return (
                f"named_struct('sum', sum({args[0]}.sum), "
                f"'count', sum({args[0]}.count))"
            )
        # avgMerge: NULL on zero total count (Spark division semantics;
        # CH returns nan there — a re-merged empty state is degenerate).
        return f"(sum({args[0]}.sum) / sum({args[0]}.count))"
    return None


_UNSUPPORTED: dict[str, str] = {
    "topKWeighted": "use x_heavy_hitters with a weight pre-aggregation "
                    "(approx_top_k has no weighted form)",
    "countResample": "the -Resample combinator is a bucketed GROUP BY — "
                     "add width_bucket(key, lo, hi, n) to the grouping "
                     "keys instead",
    "sumResample": "see countResample",
    "avgResample": "see countResample",
    "groupArrayMovingSum": "insertion-order dependent in CH — use "
                           "sum() OVER (ORDER BY <key> ROWS N-1 "
                           "PRECEDING) with an explicit order",
    "groupArrayMovingAvg": "insertion-order dependent in CH — use "
                           "avg() OVER (ORDER BY <key> ROWS N-1 "
                           "PRECEDING) with an explicit order",
    "groupArrayLast": "insertion-order dependent in CH — use "
                      "groupArraySorted (exact, deterministic) or an "
                      "explicit ORDER BY before the collect",
    "groupArraySample": "nondeterministic sampling — use x_det_sample's "
                        "hash-deterministic row sampling",
    "rankCorr": "use x_rank_corr (exact average-rank Spearman via "
                "integer rank sums, full oracle)",
    "sparkbar": "terminal rendering — compute the histogram itself with "
                "m_histogram",
    "meanZTest": "transcendental p-values have no bit-stable SQL "
                 "(same contract as studentTTest); compute the z "
                 "statistic from avg/stddev columns",
    "aggThrow": "CH test-harness function (throws by design)",
    "neighbor": "block-order dependent in CH — use lag()/lead() OVER an "
                "explicit ORDER BY",
    "runningDifference": "block-order dependent in CH — use value - "
                         "lag(value) OVER an explicit ORDER BY "
                         "(x_counter_rate for reset-aware deltas)",
    "runningAccumulate": "block-order dependent in CH — use sum() OVER "
                         "an explicit ORDER BY",
    "rowNumberInAllBlocks": "block-order dependent — use row_number() "
                            "OVER an explicit ORDER BY",
    "blockNumber": "physical-block introspection with no Spark analog",
    "nowInBlock": "per-block clock reads are nondeterministic — use "
                  "now() / current_timestamp()",
    "randConstant": "per-block constants are nondeterministic — use a "
                    "literal seed column",
    "histogram": "use m_histogram (width_bucket-style exact binning)",
    "deltaSum": "block-order dependent in CH — use x_counter_rate "
                "(explicitly ordered positive-delta sum with reset "
                "handling)",
    "deltaSumTimestamp": "use x_counter_rate (ordered positive-delta sum)",
    "studentTTest": "transcendental p-values have no bit-stable SQL "
                    "mapping — compute the t statistic from "
                    "avg/var/count per group and look up p driver-side",
    "mannWhitneyUTest": "use x_mann_whitney_u (exact doubled rank sums, "
                        "tie-corrected z, full oracle); p-values are "
                        "transcendental and stay driver-side",
    "groupArrayInsertAt": "use map_from_entries(collect_list(struct(pos, "
                          "v))) — positional assembly is a map, not an "
                          "ordered array, under distributed aggregation",
    "normalizeUTF8NFC": "no JVM unicode-normalization builtin — use a "
                        "pandas UDF (unicodedata.normalize) off the hot "
                        "path",
    "normalizeUTF8NFD": "see normalizeUTF8NFC",
    "normalizeUTF8NFKC": "see normalizeUTF8NFC",
    "normalizeUTF8NFKD": "see normalizeUTF8NFC",
    # (neighbor / runningAccumulate / runningDifference: detailed
    # block-order entries earlier in this dict — duplicate short forms
    # removed by the round-10 duplicate-key audit.)
    "largestTriangleThreeBuckets": "use x_lttb_downsample",
    "exponentialMovingAverage": "use x_ewma_trailing",
    "uniqTheta": "use x_sketch_theta_setops (DataSketches theta algebra)",
    # round-9 wave 3: functions whose faithful translation doesn't exist,
    # each with the engine-native route.
    "mapApply": "CH's lambda returns a (k, v) tuple — use Spark's "
                "transform_keys / transform_values, which split the "
                "rewrite per component",
    "lemmatize": "model-backed (CH loads lemmatizer dictionaries) — stub "
                 "behind a pandas UDF with an explicit model artifact",
    "stem": "see lemmatize",
    "synonyms": "see lemmatize (extension dictionaries)",
    "detectLanguage": "model-backed in CH (CLD2) — use x_lang_id "
                      "(deterministic n-gram heuristic, full oracle)",
    "detectLanguageMixed": "see detectLanguage",
    "detectCharset": "model-backed — see detectLanguage",
    "minSampleSizeConversion": "inverse-normal quantiles are "
                               "transcendental (same contract as "
                               "studentTTest) — compute driver-side from "
                               "the aggregated counts",
    "minSampleSizeContinuous": "see minSampleSizeConversion",
    "welchTTest": "use x_welch_t (exact integer moments, t + "
                  "Welch–Satterthwaite df, full oracle); p-values are "
                  "transcendental and stay driver-side",
    "kolmogorovSmirnovTest": "use x_ks_test (integer D numerator over the "
                             "value-grid ECDF, full oracle); p-values "
                             "are transcendental and stay driver-side",
    "hostName": "cluster-node introspection has no deterministic Spark "
                "analog (executors differ per task) — use "
                "spark.conf/application info driver-side",
    "uptime": "see hostName",
    # cluster/remote table functions: Spark's execution model has no
    # per-node table routing — register the remote data as a table
    # (JDBC/parquet path) and query it directly.
    "remote": "no per-node table routing in Spark — register the remote "
              "table (JDBC / parquet path / catalog) and query it",
    "remoteSecure": "see remote",
    "cluster": "see remote",
    "clusterAllReplicas": "see remote",
    "merge": "pattern-union of tables — build an explicit UNION ALL BY "
             "NAME over the matching tables (spark.catalog lists them)",
    "generateRandom": "nondeterministic row source — build test frames "
                      "with spark.range + deterministic columns "
                      "(md5-keyed like tests do), or createDataFrame",
    "input": "INSERT-time stream placeholder — pass a DataFrame to the "
             "sink API instead",
    "viewIfPermitted": "access-control introspection has no Spark analog",
    "categoricalInformationValue": "weight-of-evidence sums are "
                                   "transcendental per category — "
                                   "aggregate the 2x2 counts (x_cramers_v "
                                   "shape) and compute WOE driver-side",
# normalizeQuery/normalizedQueryHash (+KeepNames) translate since round
# 11 — the lexer-lite char fold (_normalize_query).
# IPv6StringToNumOrNull/OrDefault (+toIPv6 spellings) translate since
# round 11 — the validity tree with a NULL/default fallback.
    "exponentialTimeDecayedSum": "window function — spell it with OVER "
                                 "(PARTITION BY … ORDER BY …): the "
                                 "windowed form translates (max-anchored "
                                 "exp weights, no overflow); grouped "
                                 "decayed sums → x_ewma_trailing",
    "exponentialTimeDecayedAvg": "see exponentialTimeDecayedSum",
    "exponentialTimeDecayedCount": "see exponentialTimeDecayedSum",
    "exponentialTimeDecayedMax": "see exponentialTimeDecayedSum",
    "contingency": "use x_cramers_v (exact-decimal chi-square family "
                   "over the contingency counts)",
    "cramersV": "use x_cramers_v (full-oracle Cramér's V)",
    "cramersVBiasCorrected": "use x_cramers_v (the bias term is "
                             "arithmetic on the same counts)",
    "extractAllGroupsHorizontal": "group count is type-level — spell "
                                  "each group as regexp_extract_all(h, "
                                  "p, i) (extractGroups translates)",
    "extractAllGroupsVertical": "see extractAllGroupsHorizontal",
    # punycodeEncode/Decode and base58Encode/Decode TRANSLATE (round 11);
    # IDNA stays loud: it needs Unicode normalization/mapping tables
    # (UTS #46), not just the RFC 3492 algorithm.
    "idnaEncode": "IDNA needs UTS #46 normalization tables — "
                  "punycodeEncode translates; apply it per label after "
                  "lowercasing ASCII-only names",
    "idnaDecode": "see idnaEncode (punycodeDecode translates)",
    "byteSize": "engine-internal storage introspection with no Spark "
                "analog",
    "arrayRandomSample": "nondeterministic sampling — slice(shuffle(x), "
                         "1, n) if CH-parity randomness is not required, "
                         "or x_det_sample for hash-deterministic draws",
    "arrayPartialShuffle": "see arrayRandomSample",
    "arrayNormalizedGini": "open an issue with the use case — the Gini "
                           "fold is expressible but has no known "
                           "reference caller",
    "tuplePlus": "Spark structs have no generic field-wise arithmetic — "
                 "spell per field, or use arrays (zip_with(a, b, (x, y) "
                 "-> x + y))",
    "tupleMinus": "see tuplePlus",
    "tupleMultiply": "see tuplePlus",
    "tupleDivide": "see tuplePlus",
    "tupleNegate": "see tuplePlus",
    "tupleSum": "see tuplePlus (aggregate over arrays)",
    "tupleAvg": "see tuplePlus",
    "tupleConcat": "see tuplePlus (named_struct with both field lists)",
    "generateUUIDv7": "nondeterministic — uuid() generates v4; v7's "
                      "time-ordering needs dateTimeToSnowflake-style "
                      "explicit timestamps",
    "generateSnowflakeID": "nondeterministic — compose "
                           "dateTimeToSnowflake(now()) with an explicit "
                           "sequence column",
    "ULIDStringToDateTime": "Crockford base32 decode has no JVM builtin "
                            "— pandas UDF off the hot path "
                            "(UUIDv7ToDateTime translates)",
    "queryID": "engine introspection with no Spark analog "
               "(spark.sparkContext.applicationId driver-side)",
    "initialQueryID": "see queryID",
    "connectionId": "see queryID",
    "serverUUID": "see queryID",
    "transactionID": "see queryID",
    "proportionsZTest": "transcendental p-values/CIs (studentTTest "
                        "contract) — compute the z statistic from the "
                        "two count/total pairs",
    "formatReadableTimeDelta": "multi-unit wording — compose from "
                               "intDiv/modulo buckets "
                               "(formatReadableQuantity translates)",
    "COLUMNS": "the dynamic-column matcher needs the schema — spell "
               "the matched columns, or build the projection "
               "DataFrame-side with df.colRegex",
    # round-10 pass-through sweep: names that would fail as undefined
    # (or mislead) if left alone.
    # round-11 audit additions: names that previously fell through to an
    # opaque UNRESOLVED_ROUTINE at analysis time.
    "byteSwap": "CH's byte reversal depends on the input's declared "
                "integer WIDTH (UInt8/16/32/64), which Spark's bigint "
                "erases — spell the width explicitly with "
                "shiftleft/shiftright masks",
    "flattenTuple": "tuple storage flattening is engine-internal — "
                    "select the struct fields (untuple translates)",
    "toColumnTypeName": "engine-internal type introspection — use "
                        "toTypeName, or Spark's typeof()",
    "defaultValueOfArgumentType": "type-default introspection has no "
                                  "Spark analog — spell the default "
                                  "literal",
    "javaHashUTF16LE": "see hiveHash (String.hashCode over UTF-16LE is "
                       "not exposed)",
    "tupleToNameValuePairs": "struct-field introspection — spell the "
                             "pairs with map_entries over a map, or "
                             "untuple the struct",
    "timeZoneOf": "Spark timestamps carry no per-column timezone — "
                  "current_timezone() is the session's; toTimeZone "
                  "translates for display-tz shifts",
    "JSONExtractArrayRaw": "raw JSON text of array elements needs the "
                           "element schema — from_json(j, "
                           "'array<string>') for scalars, or "
                           "get_json_object per index",
    "JSONType": "JSON type introspection — branch on the first "
                "character (ltrim then startswith) or parse with "
                "an explicit from_json schema",
    "extractAllGroups": "see extractAllGroupsHorizontal",
    "addTupleOfIntervals": "chain dateAdd/timestampadd calls — Spark "
                           "has no interval-tuple form",
    "h3ToGeo": "H3 indexing is library-bound (no Spark builtin) — "
               "precompute H3 cells at ingest; greatCircleDistance / "
               "geoDistance / pointInPolygon translate",
    "geoToH3": "see h3ToGeo",
    "bar": "terminal bar rendering, like sparkbar — compute the scaled "
           "value with round(x / max * width) and render driver-side",
    "hiveHash": "JVM-internal hash not exposed in Spark SQL — use "
                "hash()/xxhash64 for stable role-equivalent hashing",
    "javaHash": "see hiveHash (String.hashCode is not exposed either)",
    "wordShingleSimHash": "use operators/dedup.py's SimHash "
                          "(x_minhash_near_dup family) — shingling + "
                          "bit votes with an oracle-replayable hash",
    "bitSlice": "sub-byte slicing has no Spark builtin — byteSlice "
                "translates; for bit work use shiftleft/shiftright & "
                "masks on integer reinterpretations",
    "reinterpretAsString": "byte reinterpretation is type-system work — "
                           "use encode/decode, hex/unhex, or cast "
                           "explicitly for the layout you need",
    "stochasticLinearRegression": "iterative model fitting — train "
                                  "driver-side on a bounded sample "
                                  "(x_linear_quality_score pattern) and "
                                  "inline the weights",
    "stochasticLogisticRegression": "see stochasticLinearRegression",
    "initializeAggregation": "state plumbing — the -State/-Merge "
                             "combinators translate directly "
                             "(uniqState/avgState/…)",
    "finalizeAggregation": "see initializeAggregation (-Merge "
                           "translates)",
}

# reinterpretAs<T> numeric spellings share the reinterpretAsString route.
for _rt in ("UInt8", "UInt16", "UInt32", "UInt64", "Int8", "Int16",
            "Int32", "Int64", "Float32", "Float64", "Date", "DateTime"):
    _UNSUPPORTED[f"reinterpretAs{_rt}"] = "see reinterpretAsString"


# ClickHouse resolves aggregate names case-insensitively (COUNT, Count,
# count are one function); everything else is case-sensitive camelCase.
_CI_CANON = {
    n.lower(): n
    for n in (
        "count", "sum", "avg", "min", "max", "any", "anyLast", "median",
        "uniq", "uniqExact", "argMax", "argMin", "stddevPop", "stddevSamp",
        "varPop", "varSamp", "corr", "covarPop", "covarSamp", "groupArray",
        "groupUniqArray", "quantile", "quantileExact", "quantiles",
    )
}


def _apply_function(name: str, rendered_args: list[str],
                    params: list[str] | None) -> str:
    if name not in RULES and name not in PARAM_RULES and name not in _UNSUPPORTED:
        name = _CI_CANON.get(name.lower(), name)
    if name in _UNSUPPORTED:
        raise DialectError(f"{name}: {_UNSUPPORTED[name]}")
    if name.endswith("State") or name.endswith("Merge"):
        # Parametric spellings (quantileExactMerge(0.9)(st)) resolve
        # through PARAM_RULES; plain spellings through _state_merge.
        if params is not None and name in PARAM_RULES:
            return PARAM_RULES[name](params, rendered_args)
        rewritten = _state_merge(name, rendered_args)
        if rewritten is not None:
            return rewritten
        raise DialectError(
            f"{name}: only the uniq/uniqExact families, value-state "
            "aggregates (sum/count/min/max), avg (a (sum,count) struct), "
            "groupArray, and quantileExact (exact value arrays) translate "
            "as -State/-Merge — other composite states (t-digest "
            "quantile, topK, …) have no SQL-level Spark representation; "
            "store their components separately or use queries/sketches.py "
            "/ streaming/sketch_sink.py"
        )
    if name in PARAM_RULES:
        return PARAM_RULES[name](params, rendered_args)
    # Parametric -If composition: quantileIf(0.9)(x, cond) etc. Only the
    # quantile family qualifies — its bodies are single aggregate calls
    # FILTER attaches to (topK/groupArray expand to compound expressions).
    if (
        params is not None
        and name.endswith("If")
        and name[:-2] in PARAM_RULES
    ):
        base = name[:-2]
        if base in ("quantile", "quantileExact", "quantileGK",
                    "quantileBFloat16", "quantileTDigest"):
            if len(rendered_args) < 2:
                raise DialectError(f"{name} needs a condition argument")
            body = PARAM_RULES[base](params, rendered_args[:-1])
            return f"{body} FILTER (WHERE {rendered_args[-1]})"
        raise DialectError(
            f"{name}: the -If combinator composes only with the quantile "
            "family in parametric position — filter in WHERE, or wrap the "
            "argument in if(cond, x, NULL)"
        )
    if params is not None:
        raise DialectError(f"{name}: unexpected parametric call")
    if name in RULES:
        return RULES[name](rendered_args)
    # -OrNull combinator: identity for bases that are already NULL-on-empty
    # in Spark. Composes with -If in either spelling (fooOrNullIf, fooIfOrNull).
    if name.endswith("OrNull"):
        base = name[:-6]
        if base in _OR_NULL_BASES or (
            base.endswith("If") and base[:-2] in _OR_NULL_BASES
        ):
            return _apply_function(base, rendered_args, None)
    if name.endswith("OrNullIf") and name[:-8] in _OR_NULL_BASES:
        return _apply_function(name[:-8] + "If", rendered_args, None)
    # -If combinator: fooIf(args..., cond) -> foo(args) FILTER (WHERE cond)
    if name.endswith("If") and len(name) > 2:
        base = name[:-2]
        if base.endswith("OrNull") and base[:-6] in _OR_NULL_BASES:
            base = base[:-6]
        if base in _IF_BASES or base in ("uniqExact",):
            if not rendered_args:
                raise DialectError(f"{name} needs a condition argument")
            cond = rendered_args[-1]
            inner = rendered_args[:-1]
            if base == "uniqExact":
                # FILTER + DISTINCT don't combine; nulls never count.
                return f"count(DISTINCT if({cond}, {inner[0]}, NULL))"
            body = _apply_function(base, inner, None)
            return f"{body} FILTER (WHERE {cond})"
    return f"{name}({', '.join(rendered_args)})"


# ---------------------------------------------------------------------------
# Function-call pass
# ---------------------------------------------------------------------------

def _parse_args(toks: list[str], open_at: int) -> tuple[list[list[str]], int]:
    """toks[open_at] == '('; return (arg token lists, index after ')')."""
    end = _group_end(toks, open_at)
    inner = toks[open_at + 1:end - 1]
    return (_split_top(inner, ",") if inner else []), end


_NO_SPACE_BEFORE = {",", ")", ".", "]"}
_NO_SPACE_AFTER = {"(", ".", "["}


def _render(parts: list[str]) -> str:
    out: list[str] = []
    for p in parts:
        if out and p not in _NO_SPACE_BEFORE and out[-1] not in _NO_SPACE_AFTER:
            # "(" attaches to whatever precedes it (call-like) unless the
            # previous token is a keyword: "WHERE (a)" but `"q"(x)`.
            if p != "(" or _u(out[-1]) in _KEYWORDS_NOT_CALLS:
                out.append(" ")
        out.append(p)
    return "".join(out)


_KEYWORDS_NOT_CALLS = {
    "IN", "AND", "OR", "NOT", "AS", "ON", "BY", "OVER", "WHERE", "SELECT",
    "FROM", "JOIN", "WHEN", "THEN", "ELSE", "CASE", "END", "VALUES", "USING",
    "EXISTS", "ALL", "ANY", "SOME", "DISTINCT", "INTERVAL", "BETWEEN",
    "PARTITION", "ROWS", "FILTER", "HAVING", "GROUP", "ORDER",
    "LATERAL", "VIEW", "UNION", "LIMIT", "CAST", "IF",
}


def _rewrite_calls(toks: list[str]) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        # CH's any(x) aggregate (pick an arbitrary value) must be treated
        # as a CALL even though ANY is a keyword — left untranslated it
        # parses as Spark's BOOLEAN any/bool_or, silently wrong. Keyword
        # contexts keep ANY: quantified comparisons (`= ANY (…)`, where a
        # comparison operator precedes) never look like aggregates, and
        # `ANY JOIN` has no '(' after it.
        any_call = (
            _u(t) == "ANY"
            and i + 1 < len(toks)
            and toks[i + 1] == "("
            and not (out and out[-1] in ("=", "!=", "<>", "<", ">",
                                         "<=", ">=") )
            and not (out and _u(out[-1]) in ("LIKE", "IN", "NOT"))
        )
        if (
            _is_ident(t)
            and not t.startswith(("`", '"'))
            and i + 1 < len(toks)
            and toks[i + 1] == "("
            and (_u(t) not in _KEYWORDS_NOT_CALLS or any_call)
            and not (out and out[-1] == ".")
        ):
            name = t
            if name not in RULES and name not in PARAM_RULES and name not in _UNSUPPORTED:
                name = _CI_CANON.get(name.lower(), name)
            arg_tok_lists, j = _parse_args(toks, i + 1)
            params: list[str] | None = None
            if (
                j < len(toks)
                and toks[j] == "("
                and (
                    name in PARAM_RULES
                    or name in _UNSUPPORTED
                    or (name.endswith("If") and name[:-2] in PARAM_RULES)
                )
            ):
                params = [_render(_rewrite_calls(a)) for a in arg_tok_lists]
                arg_tok_lists, j = _parse_args(toks, j)
            rendered = [_render(_rewrite_calls(a)) for a in arg_tok_lists]
            out.append(_apply_function(name, rendered, params))
            i = j
            continue
        out.append(t)
        i += 1
    return out


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------

def translate(sql: str, ddl: Ddl | None = None) -> str:
    """Translate a ClickHouse SQL string into Spark SQL under ``ddl``'s
    dictionaries and SAMPLE BY keys (default: an enclosing call's, or none).

    SETTINGS are stripped (client/server knobs), except the two whose
    values CHANGE QUERY SEMANTICS in ways this shim pins the other way:

    - ``join_use_nulls``: the shim always behaves like the SQL-standard
      ``= 1`` (outer-join misses are NULL). CH's default ``= 0`` fills
      type defaults (0, '', epoch) instead — a query that explicitly
      sets 0 depends on that and raises loud (wrap the nullable columns
      in ``coalesce(col, <default>)`` to port it). Queries that never
      set it almost always tolerate NULLs; the same NULL-not-default
      convention applies to WITH TOTALS rows (documented there).
    - ``prefer_column_name_to_alias = 1``: inverts CH's alias scoping in
      WHERE/HAVING, which this shim reproduces in its default ``= 0``
      form (see _rewrite_where_aliases) — raises loud.
    """
    token = _DDL.set(_DDL.get() if ddl is None else ddl)
    try:
        return _translate(sql)
    finally:
        _DDL.reset(token)


def _translate(sql: str) -> str:
    if re.search(r"(?i)\bjoin_use_nulls\s*=\s*0", sql):
        raise DialectError(
            "SETTINGS join_use_nulls = 0: CH fills outer-join misses "
            "with type defaults (0, '', epoch); Spark and this shim use "
            "SQL-standard NULLs — wrap the nullable columns in "
            "coalesce(col, <type default>) to keep the query's behavior"
        )
    if re.search(r"(?i)\bprefer_column_name_to_alias\s*=\s*1", sql):
        raise DialectError(
            "SETTINGS prefer_column_name_to_alias = 1: the shim "
            "reproduces CH's DEFAULT alias scoping (aliases resolve in "
            "WHERE/HAVING); rename the alias to stop it shadowing the "
            "column instead"
        )
    # SHOW TABLES FROM db -> Spark's IN spelling (LIKE passes through);
    # SHOW DATABASES / SHOW CREATE TABLE / DESCRIBE are shared syntax.
    m = re.match(r"(?i)^(\s*SHOW\s+TABLES\s+)FROM\b", sql)
    if m:
        sql = sql[: m.end(1)] + "IN" + sql[m.end(0):]
    # EXPLAIN variants: CH's AST/SYNTAX/QUERY TREE/PLAN/PIPELINE/ESTIMATE
    # qualifiers have no Spark spelling — all become Spark's EXPLAIN
    # EXTENDED (parse + analyzed + optimized + physical, the superset
    # view), with any `qualifier = value` options dropped.
    m = re.match(
        r"(?i)^\s*EXPLAIN\s+(?:(?:AST|SYNTAX|QUERY\s+TREE|PLAN|PIPELINE|"
        r"ESTIMATE)\s+)?(?:\w+\s*=\s*\w+\s*,?\s*)*(SELECT|WITH)\b",
        sql,
    )
    if m:
        return "EXPLAIN EXTENDED " + translate(sql[m.start(1):])
    toks = _tokenize(sql)
    # Star modifiers Spark lacks (EXCEPT passes through — Spark 4 has it).
    for k, t in enumerate(toks):
        # A bare star (after SELECT / ',' / '(') — `a * replace(...)` is a
        # multiplication and passes through.
        prev = _u(toks[k - 1]) if k > 0 else "SELECT"
        if t == "*" and prev in ("SELECT", ",", "(") and k + 1 < len(
            toks
        ) and _u(toks[k + 1]) in ("REPLACE", "APPLY"):
            raise DialectError(
                f"SELECT * {_u(toks[k + 1])} needs the column list — "
                "Spark has no star-modifier form; spell the projection "
                "(or use * EXCEPT, which translates) and apply the "
                "expression per column"
            )
    toks = _strip_format_settings(toks)
    toks = _rewrite_any_join(toks)
    toks = _rewrite_asof_join(toks)
    toks = _strip_final_and_join_mods(toks)
    toks = _rewrite_sample(toks)
    toks = _rewrite_qualify(toks)
    toks = _rewrite_limit_by(toks)
    toks = _rewrite_limit_offset(toks)
    toks = _merge_prewhere(toks)
    toks = _rewrite_where_aliases(toks)
    toks = _rewrite_scalar_with(toks)
    toks = _rewrite_with_fill(toks)
    toks = _rewrite_with_totals(toks)
    toks = _rewrite_array_join(toks)
    toks = _rewrite_time_decayed(toks)
    toks = _rewrite_entropy_cells(toks)
    toks = _rewrite_brackets(toks)
    toks = _rewrite_calls(toks)
    return _render(toks)


# Analyzed-plan reuse: ``spark.sql()`` re-parses and re-analyzes the
# generated SQL on every call (0.24–0.45 s of driver time for the 8–15 KB
# codec/wave trees). A DataFrame is an immutable lazy plan, computed from
# the parquet inputs at every action, so reusing one is not result caching;
# like the ``tables.load_tables`` catalog it lives in the session's state.
# The translation is memoized on (sql, the session's Ddl); the plan on
# (sf_dir, translated text): analysis binds concrete file relations, and
# the text names everything else it reads — the layout (e.g.
# ``documents_wide``) and each dictionary view or SAMPLE BY key the query
# uses. A declaration the query does not read leaves its plan alone; a
# re-pointed dictionary changes the text and so the plan.
def clickhouse_sql(spark, sql: str, sf_dir: str | None = None):
    """Translate ``sql`` under the session's Ddl and run it on Spark.

    When ``sf_dir`` is given, the engine's tables are (re)registered as temp
    views first, so table names resolve exactly as they would against the
    reference's warehouse — and the analyzed plan is memoized per
    (session, sf_dir, translated text), see the note above.
    """
    from .session import state
    from .tables import load_tables

    st = state(spark)
    ddl = st.get("ddl", Ddl())
    key = ("translation", sql, ddl)
    if key not in st:
        st[key] = translate(sql, ddl)
    text = st[key]
    if sf_dir is None:
        return spark.sql(text)
    load_tables(spark, sf_dir)
    key = ("plan", sf_dir, text)
    if key not in st:
        st[key] = spark.sql(text)
    return st[key]
