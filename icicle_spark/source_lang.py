"""Icicle source-language front-end: parse real query strings into
the engine's fold-plan IR.

A query is a context pipeline ending in an aggregate
(icicle-source/src/Icicle/Source/Query/Query.hs:59-63):

    from salary ~> filter value > 10 ~> count value
    from salary ~> windowed 3 months ~> latest 10 ~> value
    from injury ~> filter let "head" = location ~> sum severity
    from salary ~> filter let Some zod = Some (value + 1)
                ~> latest 3 ~> zod

Supported subset (each maps 1:1 onto a Feature field — the engine's
IR was shaped by these contexts, Context.hs:25-37):

* ``filter e`` / ``filter let Some x = e`` (Option bind) /
  ``filter let LITERAL = e`` (literal pattern = equality filter)
* ``windowed N days|weeks|months`` / ``windowed between A u and B u``
* ``latest N`` (repeated: a filter between two latests makes the
  first an OUTER frame; back-to-back latests collapse to the min)
* ``group e`` / ``distinct e``
* ``let x = e`` — element binds substitute textually downstream;
  AGGREGATE lets (``let sx = sum value ~> sx * 2``, repl t04-lets)
  freeze their folds at the bind point (a later ``filter`` narrows
  only later aggregates) and substitute into the postcomputation
* juxtaposed scalar builtins ``double trunc log exp sqrt abs``
  (rewritten to Spark SQL calls)
* ``fold x = INIT then STEP`` / ``fold1 x = INIT then STEP``
  (Context.hs:32-33) — compiled to :class:`CustomFold`; STEP/INIT are
  python-eval expressions over the bind name + fact columns (``fold1``
  seeds from the first visible element, empty stream -> null)
* terminal AGGREGATE EXPRESSIONS: any arithmetic over aggregate
  subterms — ``sum v / count v``, ``max v - min v``,
  ``mean v + 2 * sd v``, a fold bind ``x``, … . Each aggregate subterm
  becomes one fused fold; the surrounding arithmetic becomes a
  POSTCOMPUTATION on the result frame, exactly the reference Core
  split (Core/Program/Program.hs:33-36 ``postcomps``,
  ToCore/ToCore.hs aggregate lowering). Aggregate subterms: sum count
  mean min max newest oldest variance sd any all numflips /
  ``max_by k v`` ``min_by k v`` / ``count ()`` / the two-argument
  prelude statistics ``covariance a b`` ``correlation a b``
  ``gradient a b`` ``intercept a b`` (lowered to pair-masked
  SUM/COUNT folds + closed-form postcomps, prelude.icicle:219-255) /
  fold bind names. A bare element expression under ``latest N`` is
  an array result (collect).

Element expressions compile to Spark SQL (``location == "head"`` reads
as equality there too), which every backend evaluates in the JVM —
the Python executors receive them projected into columns
(``plans.executor.project_exprs``). The one exception is an expression
over a ``scan`` bind, directly or through a ``filter let`` bind: the
bind exists only inside a frame, so it compiles to a vectorized pandas
callable (``exprlang.to_callable``). Postcomputation arithmetic is
Spark SQL too (it runs on the aggregated frame). Out-of-scope forms —
tuples, ``now``, custom function definitions — raise ValueError naming
the construct.
"""

from __future__ import annotations

import math
import re
from typing import Mapping

from icicle_spark.checker import SourceError
from icicle_spark.plans.ir import (
    NOW_TOKEN as _NOW_TOKEN,
    Agg,
    CustomFold,
    Feature,
    Plan,
    Window,
)

_AGGS = {
    "sum": Agg.SUM, "count": Agg.COUNT, "mean": Agg.MEAN,
    "min": Agg.MIN, "max": Agg.MAX, "newest": Agg.NEWEST,
    "oldest": Agg.OLDEST, "variance": Agg.VARIANCE, "sd": Agg.SD,
    "any": Agg.ANY, "all": Agg.ALL, "numflips": Agg.NUMFLIPS,
}

_UNITS = {"day": "days", "days": "days", "week": "weeks",
          "weeks": "weeks", "month": "months", "months": "months"}


def _unit(u: str) -> str:
    if u not in _UNITS:
        raise ValueError(f"unknown window unit {u!r}")
    return _UNITS[u]


class _Uninit:
    """fold1 pre-seed marker. One instance lives inside the
    CustomFold's closure graph, so identity survives cloudpickle to
    the executors (ToCore/Fold.hs:213-233 seeds fold1 from the first
    element; an empty stream yields no value)."""


def _compile_fold(bind: str, init_src: str, step_src: str, fold1: bool):
    """``fold x = INIT then STEP`` -> CustomFold (Context.hs:32-33).

    Bodies are Icicle expressions parsed by :mod:`icicle_spark.
    exprlang` (constructors, case patterns, tuples, map_insert/
    map_create, the scalar builtins). Sequential by construction —
    the faithful reading of an Icicle fold; for vectorizable folds
    build CustomFold(step=...) directly at the API layer. Constructor
    states unwrap to their payload at output (the repl prints
    `Right 5.0` as 5.0 — t13 goldens); map states come back with
    Data.Map sorted-key order."""
    from icicle_spark import exprlang as X

    step_ast = X.parse(step_src)
    init_ast = X.parse(init_src)
    cols = sorted(
        (X.free_vars(step_ast) | (X.free_vars(init_ast) if fold1 else set()))
        - {bind}
    )
    # a fold body that rebuilds its own state under a constructor
    # (`fold g = Left 0 then Right g`) is an infinite type in the
    # reference checker (t08-randomly rejects it) — detect the direct
    # self-wrap form and refuse likewise
    def _self_wrap(node) -> bool:
        return (
            node[0] == "ctor"
            and node[2] is not None
            and node[2] == ("var", bind)
        )

    if _self_wrap(step_ast):
        raise ValueError(
            f"fold {bind!r} wraps its own state in a constructor — "
            "infinite type (the reference checker rejects this)"
        )

    if fold1:
        seed: object = _Uninit()

        def step_seq(acc, x):
            env = dict(zip(cols, x)) if len(cols) > 1 else (
                {cols[0]: x} if cols else {}
            )
            if isinstance(acc, _Uninit):
                return X.evaluate(init_ast, env)
            env[bind] = acc
            return X.evaluate(step_ast, env)

        def output(acc):
            return None if isinstance(acc, _Uninit) else X.unwrap_output(acc)

        return CustomFold(
            seed, step_seq=step_seq, output=output,
            bind=bind, init_src=init_src, step_src=step_src,
        ), cols

    try:
        init_val = X.evaluate(init_ast, {})
    except NameError as e:
        raise ValueError(
            f"fold init {init_src!r} must be a constant (use fold1 to "
            f"seed from the first element): {e}"
        ) from None

    def step_seq(acc, x):
        env = dict(zip(cols, x)) if len(cols) > 1 else (
            {cols[0]: x} if cols else {}
        )
        env[bind] = acc
        return X.evaluate(step_ast, env)

    dtype = X.infer_dtype_of_value(init_val)
    return (
        CustomFold(
            init_val, step_seq=step_seq, output=X.unwrap_output,
            dtype=dtype,
            bind=bind, init_src=init_src, step_src=step_src,
        ),
        cols,
    )


def _fold_expr(cols: list[str]):
    """Element expression feeding a compiled fold: the single column
    itself, a tuple Series for multi-column bodies, or a constant for
    body-only folds (``fold c = 0 then c + 1``)."""
    import pandas as pd

    if len(cols) == 1:
        return cols[0]
    if cols:
        colsl = list(cols)

        def expr(pdf):
            return pd.Series(
                list(zip(*[pdf[c] for c in colsl])), index=pdf.index
            )

        return expr

    def const(pdf):
        return pd.Series(1.0, index=pdf.index)

    return const


_STR_RE = re.compile(r'"(?:\\.|[^"\\])*"')  # backslash escapes accepted
                                            # (Lexer.hs lexStringChar)
_STR_TOKEN = re.compile(r"__strlit(\d+)x")


def _mask_strings(
    q: str, lits: list[str] | None = None
) -> tuple[str, list[str]]:
    """Replace every double-quoted literal with an opaque identifier
    token. ALL regex passes (pipeline split, builtin rewrite,
    aggregate extraction, the `in` separator) run on masked text so a
    literal containing `log x`, `~>` or ` in ` can never be rewritten
    (review finding: 'filter kind == \"log x\"' used to become
    'kind == \"ln(x)\"' silently). Pass ``lits`` to keep appending to
    an existing literal space (the function inliner masks bodies and
    call sites into one)."""
    if lits is None:
        lits = []

    def repl(m: re.Match) -> str:
        lits.append(m.group(0))
        return f"__strlit{len(lits) - 1}x"

    return _STR_RE.sub(repl, q), lits


def _unmask(x, lits: list[str]):
    """Restore literal tokens in a parsed artifact (no-op for
    callables / None)."""
    if not isinstance(x, str) or not lits:
        return x
    return _STR_TOKEN.sub(lambda m: lits[int(m.group(1))], x)


def _split_pipeline(q: str) -> list[str]:
    """Split a query on ``~>`` at paren depth 0 only — parenthesized
    subqueries (`group fold (k,v) = (group t ~> count v)`) keep their
    own pipeline intact."""
    segs: list[str] = []
    depth = 0
    cur: list[str] = []
    i, n = 0, len(q)
    while i < n:
        ch = q[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0 and q.startswith("~>", i):
            segs.append("".join(cur).strip())
            cur = []
            i += 2
            continue
        cur.append(ch)
        i += 1
    segs.append("".join(cur).strip())
    # splice fully-parenthesized pipeline stages: the function inliner
    # wraps a context-carrying body in parens (`(group fold ... ~>
    # max_by e k)` from data/example max_group), and `(A ~> B)` as an
    # ENTIRE stage means the pipeline A ~> B, not a subquery value
    out: list[str] = []
    for seg in segs:
        inner = _strip_outer_parens(seg)
        if inner is not None and len(_split_pipeline(inner)) > 1:
            out.extend(_split_pipeline(inner))
        else:
            out.append(seg)
    return out


def _mentions(e, names: set[str]) -> bool:
    """True if the expression text ``e`` reads any of ``names``."""
    return isinstance(e, str) and any(
        re.search(rf"\b{re.escape(n)}\b", e) for n in names
    )


def _strip_some(e: str) -> str:
    """`Some (expr)` / `Some expr` -> expr (the parser's Option
    constructors are erased; null IS None in the engine encoding)."""
    m = re.fullmatch(r"Some\s*\((.*)\)", e.strip(), re.S)
    if m:
        return m.group(1).strip()
    m = re.fullmatch(r"Some\s+(.+)", e.strip(), re.S)
    return m.group(1).strip() if m else e.strip()


class _Builder:
    def __init__(
        self,
        qname: str,
        skip_nulls: bool,
        big_data: bool = False,
    ) -> None:
        self.qname = qname
        self.skip_nulls = skip_nulls
        self.big_data = big_data
        self.filters: list[str] = []
        self.binds: list[tuple[str, str]] = []
        self.lets: dict[str, str] = {}
        self.agg_lets: dict[str, str] = {}  # aggregate `let`: name ->
                                            # postcomp fragment over
                                            # hidden folds (contexts
                                            # FROZEN at the bind point)
        self.window: Window | None = None
        self.latest: int | None = None
        self.latest_outer: int | None = None
        self._filter_since_latest = False
        self.group: str | None = None
        self.nested_group = False  # `group a ~> group b` composite
        self.post_filters: list[str] = []  # filters AFTER `group k`
        self.group_latest: int | None = None  # `group k ~> latest N`
        self.pg_before_latest = False  # filter-then-frame under group
        self.distinct: str | list | None = None
        self.distinct_scoped = False  # distinct arrived AFTER `group k`
        self.group_fold: tuple | None = None  # (k, v, hidden, int?)
        self.elem_markers: dict[str, str] = {}  # array-fold group binds
        self.folds: dict[str, tuple] = {}  # bind -> (CustomFold, cols)
        self.fold_feats: dict[str, str] = {}  # bind -> hidden feature
        self.scan_binds: list[tuple] = []  # `scan b = agg e` running binds
        self.strlits: list[str] = []  # masked string literals
        self.feats: list = []
        self._n = 0

    def sub(self, e: str) -> str:
        """Apply pure element `let` binds textually (parenthesized,
        word boundaries). filter-let binds stay COLUMNS (the IR
        carries them), so they are not substituted."""
        out = e.strip()
        for k, v in self.lets.items():
            out = re.sub(rf"\b{re.escape(k)}\b", f"({v})", out)
        return out

    def sub_agg(self, e: str) -> str:
        """Substitute aggregate `let` binds (postcomp fragments)."""
        out = e
        for k, v in self.agg_lets.items():
            out = re.sub(rf"\b{re.escape(k)}\b", v, out)
        return out

    def where(self) -> str | None:
        if not self.filters:
            return None
        if len(self.filters) == 1:
            return self.filters[0]
        return " && ".join(f"({f})" for f in self.filters)

    def fresh(self) -> str:
        root = getattr(self, "_fresh_root", None) or self
        n = f"__{root.qname}_{root._n}"
        root._n += 1
        return n

    def mk_feature(self, fname: str, agg, expr, by=None, dtype=None):
        """A Feature frozen over the CURRENT context state (aggregate
        lets bind before later contexts narrow the stream —
        repl t04-lets 'Aggregate let outside filter')."""
        if (
            self.big_data
            and self.window is None
            and self.latest is None
            and self.latest_outer is None
        ):
            # big-data mode (repl `:set +big-data`, t40-bigdata
            # goldens; Source/Checker CheckOptions): resumable
            # queries must bound their state — every fold, group and
            # distinct needs an enclosing windowed/latest context
            raise ValueError(
                "big-data mode: folds, groups and distincts must be "
                "inside windowed or latest"
            )

        from icicle_spark import exprlang as X

        # scan binds, and the filter-let binds that read them, exist
        # only inside a frame: expressions over them compile to pandas
        # callables, the only element expressions evaluated in Python
        framed = {n for n, _, _ in self.scan_binds}
        for n, e in self.binds:
            if _mentions(e, framed):
                framed.add(n)

        def J(x):
            if not isinstance(x, str):
                return x
            if _mentions(x, framed) and not re.fullmatch(r"\w+", x.strip()):
                return X.to_callable(X.parse(_unmask(x, self.strlits)))
            if re.search(r"\bcase\b|\bif\b", x):
                # element-position conditionals (Exp.hs Case / If,
                # repl t13): exprlang renders them as CASE WHEN
                return X.to_sql(X.parse(_unmask(x, self.strlits)))
            if re.search(
                r"\b(?:Some|None|Left|Right|ExceptTombstone)\b", x
            ) or re.search(r"/(?![=/])", x):
                # constructor syntax in element position (t16
                # `is_some (Some "hi")`: the juxta table has no ctor
                # forms), and element-position DIVISION, a Possibly op:
                # divide by zero -> null (t30-sea `newest (1/0)`
                # golden: tombstone; raw ANSI SQL would throw).
                # exprlang renders both; anything its grammar can't
                # parse falls back to the juxta path
                try:
                    return X.to_sql(X.parse(_unmask(x, self.strlits)))
                except SourceError:
                    raise
                except Exception:
                    pass
            return _unmask(_juxta(x), self.strlits)

        return Feature(
            fname, agg, J(expr),
            where=J(self.where()), window=self.window, latest=self.latest,
            latest_outer=self.latest_outer, by=J(by), group=J(self.group),
            distinct=(
                [J(d) for d in self.distinct]
                if isinstance(self.distinct, list)
                else J(self.distinct)
            ),
            distinct_in_group=self.distinct_scoped,
            filter_let=tuple((n, J(e)) for n, e in self.binds)
            if self.binds else None,
            scans=tuple((n, a, J(e)) for n, a, e in self.scan_binds)
            if self.scan_binds else None,
            post_group_filter=J(
                " && ".join(f"({p})" for p in self.post_filters)
            )
            if self.post_filters else None,
            group_latest=self.group_latest,
            pg_before_latest=self.pg_before_latest,
            skip_nulls=self.skip_nulls,
            dtype=dtype,
        )


def _child_builder(b: _Builder) -> _Builder:
    """A builder for a nested subquery: inherits the parent's context
    state (a subquery refines the outer stream), SHARES the parent's
    feature list and fresh-name counter (hidden folds land in the one
    fused plan — Fusion.hs semantics)."""
    c = _Builder(b.qname, b.skip_nulls, b.big_data)
    c.filters = list(b.filters)
    c.binds = list(b.binds)
    c.lets = dict(b.lets)
    c.agg_lets = dict(b.agg_lets)
    c.elem_markers = dict(b.elem_markers)
    c.window = b.window
    c.latest = b.latest
    c.latest_outer = b.latest_outer
    c._filter_since_latest = b._filter_since_latest
    c.group = b.group
    c.nested_group = b.nested_group
    c.post_filters = list(b.post_filters)
    c.group_latest = b.group_latest
    c.pg_before_latest = b.pg_before_latest
    c.distinct = b.distinct
    c.distinct_scoped = b.distinct_scoped
    c.folds = dict(b.folds)
    c.scan_binds = list(b.scan_binds)
    c.fold_feats = b.fold_feats  # shared: fold folds dedupe across scopes
    c.strlits = b.strlits
    c.feats = b.feats  # SHARED
    c._fresh_root = getattr(b, "_fresh_root", None) or b
    return c


def _strip_outer_parens(s: str) -> str | None:
    """Inner text when ``s`` is exactly one balanced ``(...)`` group."""
    s = s.strip()
    if not (s.startswith("(") and s.endswith(")")):
        return None
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0 and i != len(s) - 1:
                return None
    return s[1:-1].strip() if depth == 0 else None


def _top_arrow(s: str) -> bool:
    depth = 0
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and s.startswith("~>", i):
            return True
        i += 1
    return False


def _split_top_tuple(s: str) -> list[str] | None:
    """Components of a tuple tail ``(a, b, ...)`` — depth-0 commas of
    the outer-paren inner; None when not a syntactic tuple."""
    inner = _strip_outer_parens(s)
    if inner is None:
        return None
    comps, depth, cur = [], 0, []
    for ch in inner:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            comps.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    comps.append("".join(cur).strip())
    return comps if len(comps) > 1 else None


def _lower_subqueries(b: _Builder, text: str) -> str:
    """Replace every parenthesized SUB-PIPELINE (a ``(...)`` group
    whose inner has a depth-0 ``~>``) with a hidden-fold fragment
    (t80 `let arr = (latest 3 ~> value)`, t05 tuple components).
    Recurses into non-pipeline groups (`get (Some (latest 3 ~> v))`)."""
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch != "(":
            out.append(ch)
            i += 1
            continue
        depth = 0
        j = i
        while j < n:
            if text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            raise ValueError(f"unbalanced parens in {text!r}")
        inner = text[i + 1 : j]
        if _top_arrow(inner):
            out.append(_compile_subquery(b, inner))
        else:
            out.append("(" + _lower_subqueries(b, inner) + ")")
        i = j + 1
    return "".join(out)


def _compile_subquery(b: _Builder, inner: str) -> str:
    """Compile a nested pipeline to hidden folds in the parent's
    feature list; returns the postcomp fragment that stands for it."""
    segs = _split_pipeline(inner)
    c = _child_builder(b)
    for cc in segs[:-1]:
        _apply_context(c, cc)
    tail = segs[-1].strip()
    if c.group_fold is not None:
        raise ValueError("group fold inside a subquery is unsupported")
    n0 = len(b.feats)
    rew = _extract_aggs(c, tail)
    had_let = any(
        re.search(rf"\b{re.escape(k)}\b", rew) for k in c.agg_lets
    )
    rew = c.sub(c.sub_agg(rew)).strip()
    if len(b.feats) == n0 and not had_let:
        if c.latest is not None:
            # bare element under latest -> hidden COLLECT array
            h = b.fresh()
            expr = c.sub(tail)
            b.feats.append(
                c.mk_feature(
                    h, Agg.COLLECT, expr, dtype=_collect_dtype(c, tail)
                )
            )
            return h
        if c.group is not None:
            # `group K ~> const` (t31 `keys (group location ~> 1)`):
            # the key-set map — NEWEST of the constant per key
            h = b.fresh()
            b.feats.append(c.mk_feature(h, Agg.NEWEST, c.sub(tail)))
            return h
        raise ValueError(f"subquery has no aggregate: {inner!r}")
    m = re.fullmatch(r"\(?\s*(__\w+)\s*\)?", rew)
    return m.group(1) if m else f"({rew})"


def _now_sub(s: str) -> str:
    """`now` is the query time — the EXCLUSIVE snapshot instant or the
    chord row's query_time (Time.hs:235-237). Postcomps carry a
    placeholder; run_plan / compile_native substitute the actual
    instant (ir.resolve_now)."""
    return re.sub(r"\bnow\b", _NOW_TOKEN, s)


_EXPRLANG_MARKER = re.compile(
    r"\bcase\b|\bif\b|[{]|\bSome\b|\bNone\b|\bLeft\b|\bRight\b"
    r"|\bExceptTombstone\b|\bmap_create\b|\bmap_insert\b|\bmap_delete\b"
)


def _is_constant_tail(b: _Builder, expr: str) -> bool:
    """True when ``expr`` references no fact columns — only literals,
    builtins, constructors and ``now`` (the reference evaluates such
    aggregates to the same constant for every entity, ignoring
    filter/window contexts — t01.2-trig, t31-builtin goldens)."""
    try:
        from icicle_spark import exprlang as X

        ast = X.parse(_unmask(expr, b.strlits))
        if X.free_vars(ast) <= {"now"}:
            return True
    except SourceError:
        raise
    except Exception:
        pass
    # fallback for juxtaposed builtins exprlang doesn't model (trig,
    # date parts): constant iff every identifier is a known builtin,
    # constructor or `now`
    idents = {
        i
        for i in re.findall(r"[A-Za-z_][\w']*", expr)
        if not _STR_TOKEN.fullmatch(i)
    }
    return idents <= (
        set(_JUXTA_SQL)
        | {"now", "nullif", "Some", "None", "Left", "Right", "True",
           "False", "ExceptTombstone", "map_create"}
    )


def _nest_cmp(a: str, bx: str) -> str:
    """SQL comparator for nested-group key order: Data.Map ascending
    TYPED order — composite keys are strings, so numeric keys must
    compare as numbers ('10' > '2'), falling back to string order."""
    return (
        f"case when cast({a} as double) is not null "
        f"and cast({bx} as double) is not null then "
        f"case when cast({a} as double) < cast({bx} as double) then -1 "
        f"when cast({a} as double) > cast({bx} as double) then 1 "
        f"else 0 end "
        f"else case when {a} < {bx} then -1 "
        f"when {a} > {bx} then 1 else 0 end end"
    )


def _nest_map_sql(col: str) -> str:
    """Reshape a flat composite-key map ``{'a|b': v}`` into the
    reference's nested ``{a: {b: v}}`` presentation (repl t02.1
    `group a ~> group b ~> agg`) — pure JVM HOFs over the output
    column, Data.Map order restored at both levels."""
    entries = f"map_entries({col})"
    outer = (
        f"array_sort(array_distinct(transform({entries}, "
        f"e -> split_part(e.key, '|', 1))), "
        f"(a, b) -> {_nest_cmp('a', 'b')})"
    )
    inner = (
        f"map_from_entries(array_sort(transform("
        f"filter({entries}, e -> split_part(e.key, '|', 1) = ok), "
        f"e -> named_struct('key', split_part(e.key, '|', 2), "
        f"'value', e.value)), "
        f"(x, y) -> {_nest_cmp('x.key', 'y.key')}))"
    )
    return f"map_from_arrays({outer}, transform({outer}, ok -> {inner}))"


def _collect_dtype(b: _Builder, tail: str) -> str | None:
    """COLLECT output dtype for a bare element tail under `latest N`.
    The default fold dtype is array<double>; STRING/BOOLEAN-valued
    tails (case branches with string literals — repl t13) must
    declare themselves or the Arrow batch write fails. Numeric
    conditionals keep the double default (Icicle arithmetic mixes
    int/double freely and goldens compare by isclose)."""
    t = tail.strip()
    if t == "time":
        return "array<timestamp>"
    from icicle_spark import exprlang as X

    try:
        ast = X.parse(_unmask(t, b.strlits))
    except SourceError:
        raise
    except Exception:
        return None
    ty = X.infer_sql_type(ast)
    return f"array<{ty}>" if ty in ("string", "boolean") else None


def _render_post(b: _Builder, frag: str) -> str:
    """Render one postcomp fragment to Spark SQL: exprlang for
    case/constructor syntax (constant-folding closed expressions),
    the juxta/safe-division pipeline otherwise."""
    frag = frag.strip()
    if _EXPRLANG_MARKER.search(frag):
        from icicle_spark import exprlang as X

        ast = X.parse(_unmask(frag, b.strlits))
        if X.is_constant(ast):
            return _sql_value(X.unwrap_output(X.evaluate(ast, {})))
        return _now_sub(X.to_sql(ast))
    return _now_sub(_unmask(_juxta(_safe_divisions(frag)), b.strlits))


def _sql_value(v) -> str:
    """A python CONSTANT as a SQL literal (constant-folded case/record
    tails — t13.1, t07 `(map_insert 0 0 map_create, 0)`)."""
    from icicle_spark.exprlang import sql_lit

    if isinstance(v, dict):
        parts = ", ".join(
            f"{_sql_value(str(k))}, {_sql_value(x)}" for k, x in v.items()
        )
        return f"map({parts})"
    if isinstance(v, tuple):
        parts = ", ".join(
            f"'f{i+1}', {_sql_value(x)}" for i, x in enumerate(v)
        )
        return f"named_struct({parts})"
    return sql_lit(v)


def _check_element(b: _Builder, e: str, what: str) -> str:
    """Aggregate-stage bindings (agg lets, fold binds) inside an
    ELEMENT expression are a temporality error in the reference
    ("Cannot join temporalities", doc/user/ambling.md) — raise
    instead of leaking an unresolved identifier to Spark."""
    for nm in (*b.agg_lets, *b.folds):
        if re.search(rf"\b{re.escape(nm)}\b", e):
            raise ValueError(
                f"aggregate-stage binding {nm!r} used inside an "
                f"element expression ({what}); aggregates compose in "
                "the final expression, not inside another aggregate"
            )
    return e


def _extract_aggs(b: _Builder, s: str) -> str:
    """Replace every aggregate subterm / fold-bind reference in ``s``
    with a hidden fold column, appending the folds to ``b.feats``.
    The surrounding arithmetic is returned for the postcomp stage."""
    parts: list[str] = []
    i = 0
    while True:
        m = _AGG_KW.search(s, i)
        if not m:
            parts.append(s[i:])
            break
        parts.append(s[i : m.start()])
        kw, j = m.group(1), m.end()
        if kw in _AGG2_KW:
            a1, j = _scan_atom(s, j, kw)
            a2, j = _scan_atom(s, j, kw)
            A = f"({_check_element(b, b.sub(a1), kw)})"
            Bx = f"({_check_element(b, b.sub(a2), kw)})"

            def hf(expr, agg=Agg.SUM):
                h = b.fresh()
                b.feats.append(b.mk_feature(h, agg, expr))
                return h

            n_ = hf(f"{A} + 0 * {Bx}", Agg.COUNT)
            sa = hf(f"{A} + 0 * {Bx}")
            sb = hf(f"{Bx} + 0 * {A}")
            sab = hf(f"{A} * {Bx}")
            # Constant-argument detection: the reference's prelude
            # computes these with Welford co-moment folds
            # (prelude.icicle:194-255), which yield an EXACTLY zero
            # m2/m12 when an argument never varies — and Possibly
            # division then turns 0-variance denominators into None.
            # Sum-of-products folds leave a cancellation residue
            # instead (n·Σx² − (Σx)² ≈ ±n²x²·ε), so a min==max probe
            # (exact, order-free) restores the reference's semantics:
            # numerators ×0 when either argument is constant, variance
            # denominators forced to 0 (→ nullif → null). `cast` not
            # `if`: _render_post routes if/case through exprlang.
            ia = (
                f"cast(({hf(f'{A} + 0 * {Bx}', Agg.MIN)}) < "
                f"({hf(f'{A} + 0 * {Bx}', Agg.MAX)}) as int)"
            )
            ib = (
                f"cast(({hf(f'{Bx} + 0 * {A}', Agg.MIN)}) < "
                f"({hf(f'{Bx} + 0 * {A}', Agg.MAX)}) as int)"
            )
            num = (
                f"((({n_}) * ({sab}) - ({sa}) * ({sb}))"
                f" * {ia} * {ib})"
            )
            if kw == "covariance":
                frag = (
                    f"((({sab}) - ({sa}) * ({sb}) / nullif({n_}, 0))"
                    f" * {ia} * {ib}"
                    f" / nullif({n_} - 1, 0))"
                )
            elif kw == "gradient":
                sb2 = hf(f"{Bx} * {Bx} + 0 * {A}")
                frag = (
                    f"({num} / nullif((({n_}) * ({sb2}) - "
                    f"({sb}) * ({sb})) * {ib}, 0))"
                )
            elif kw == "correlation":
                sa2 = hf(f"{A} * {A} + 0 * {Bx}")
                sb2 = hf(f"{Bx} * {Bx} + 0 * {A}")
                frag = (
                    f"({num} / nullif(sqrt("
                    f"((({n_}) * ({sa2}) - ({sa}) * ({sa})) * {ia}) * "
                    f"((({n_}) * ({sb2}) - ({sb}) * ({sb})) * {ib})"
                    f"), 0))"
                )
            else:  # intercept = mean a - gradient * mean b
                sb2 = hf(f"{Bx} * {Bx} + 0 * {A}")
                grad = (
                    f"({num} / nullif((({n_}) * ({sb2}) - "
                    f"({sb}) * ({sb})) * {ib}, 0))"
                )
                frag = (
                    f"(({sa}) / nullif({n_}, 0) - {grad} * "
                    f"({sb}) / nullif({n_}, 0))"
                )
            parts.append(frag)
            i = j
            continue
        if kw == "circular_stats":
            # prelude.icicle:303-324: Welford fold over (cos θ, sin θ)
            # means, finalized to { mean, sd, z_test }. Running means
            # ≡ sum/n, so it lowers to three hidden folds + a struct
            # postcomp; n=0 keeps the fold-init semantics (x=y=0 →
            # mean 0, sd 1, z_test 0), hence coalesce not nullif.
            a1, j = _scan_atom(s, j, kw)
            E = f"({_check_element(b, b.sub(a1), kw)})"

            def hf(expr, agg=Agg.SUM):
                h = b.fresh()
                b.feats.append(b.mk_feature(h, agg, expr))
                return h

            n_ = hf(E, Agg.COUNT)
            sx = hf(f"cos{E}")
            sy = hf(f"sin{E}")
            # juxtaposed (not SQL-call) builtin syntax: this fragment
            # still flows through the _juxta rewriter with the rest
            # of the postcomp expression
            x = f"coalesce(({sx}) / nullif({n_}, 0), 0.0)"
            y = f"coalesce(({sy}) / nullif({n_}, 0), 0.0)"
            r2 = f"(({x}) * ({x}) + ({y}) * ({y}))"
            parts.append(
                f"named_struct("
                f"'mean', atan2 ({y}) ({x}), "
                f"'sd', 1.0 - sqrt {r2}, "
                f"'z_test', ({n_}) * {r2})"
            )
            i = j
            continue
        hname = b.fresh()
        if kw == "numflips'":
            # numflips' v tomb (prelude.icicle:278-291): tombstones
            # lift to a distinct None state, so ⊥-runs collapse and
            # v→⊥ / ⊥→v transitions count as flips
            a1, j = _scan_atom(s, j, kw)
            a2, j = _scan_atom(s, j, kw)  # tombstone flag: the engine
            # encodes tombstones as null VALUES (prepare_facts nulls
            # them before any fold sees them), so the Option lift is a
            # coalesce onto a marker state — ⊥-runs collapse, v→⊥ and
            # ⊥→v count as flips, and no null survives to poison
            _check_element(b, b.sub(a2), kw)
            lift = (
                f"coalesce(cast(({_check_element(b, b.sub(a1), kw)}) "
                f"as string), '__icicle_tomb')"
            )
            b.feats.append(b.mk_feature(hname, Agg.NUMFLIPS, lift))
        elif kw in ("max_by", "min_by"):
            a1, j = _scan_atom(s, j, kw)
            a2, j = _scan_atom(s, j, kw)
            agg = Agg.MAX_BY if kw == "max_by" else Agg.MIN_BY
            b.feats.append(b.mk_feature(
                hname, agg, _check_element(b, b.sub(a2), kw),
                by=_check_element(b, b.sub(a1), kw),
            ))
        elif kw == "count" and re.match(r"\s*\(\s*\)", s[j:]):
            j += re.match(r"\s*\(\s*\)", s[j:]).end()
            b.feats.append(b.mk_feature(hname, Agg.COUNT, "1"))
        else:
            a, j = _scan_atom(s, j, kw)
            b.feats.append(
                b.mk_feature(hname, _AGGS[kw],
                             _check_element(b, b.sub(a), kw))
            )
        parts.append(hname)
        i = j
    out = "".join(parts)
    # fold binds referenced at aggregate level -> (shared) hidden folds
    for bind, (cf, cols) in b.folds.items():
        if not re.search(rf"\b{re.escape(bind)}\b", out):
            continue
        if bind not in b.fold_feats:
            hname = f"__{b.qname}_f_{bind}"
            b.fold_feats[bind] = hname
            b.feats.append(b.mk_feature(hname, cf, _fold_expr(cols)))
        out = re.sub(rf"\b{re.escape(bind)}\b", b.fold_feats[bind], out)
    return out


def _apply_context(b: _Builder, c: str) -> None:
    c = c.strip()
    if b.group_fold is not None:
        # the map fold FROZE the contexts when it was built; silently
        # ignoring later filters/windows would change results
        raise ValueError(
            f"contexts after `group fold` are unsupported: {c!r}"
        )
    m = re.fullmatch(r"filter\s+let\s+Some\s+(\w+)\s*=\s*(.+)", c, re.S)
    if m:
        b.binds.append((m.group(1), b.sub(_strip_some(m.group(2)))))
        b._filter_since_latest = True
        return
    m = re.fullmatch(
        r"filter\s+let\s+(__strlit\d+x|\"[^\"]*\"|[-\d.]+)\s*=\s*(.+)",
        c, re.S,
    )
    if m:
        # literal pattern: equality filter (repl t04.1)
        b.filters.append(f"({b.sub(m.group(2))}) == {m.group(1)}")
        b._filter_since_latest = True
        return
    m = re.fullmatch(r"filter\s+(.+)", c, re.S)
    if m:
        if b.group is not None:
            # filter AFTER `group k` (t02-groups:11-13 "counts of
            # zero"): keys establish from the unfiltered stream; the
            # predicate guards only the fold step
            if b.pg_before_latest:
                raise ValueError(
                    "mixed filter/frame order after `group` is "
                    "unsupported"
                )
            b.post_filters.append(b.sub(m.group(1)))
            return
        b.filters.append(b.sub(m.group(1)))
        b._filter_since_latest = True
        return
    m = re.fullmatch(
        r"windowed\s+between\s+(\d+)\s+(\w+)\s+and\s+(\d+)\s+(\w+)", c
    )
    if m:
        a, ua, z, uz = m.groups()
        if _unit(ua) != _unit(uz):
            raise ValueError("mixed window units")
        b.window = Window(int(z), int(a), unit=_unit(uz))
        return
    m = re.fullmatch(r"windowed\s+(\d+)\s+(\w+)", c)
    if m:
        b.window = Window(int(m.group(1)), unit=_unit(m.group(2)))
        return
    m = re.fullmatch(r"latest\s+(\d+)", c)
    if m:
        n = int(m.group(1))
        if b.group is not None:
            # contexts after `group k` run INSIDE each group
            # (t17-latest:4-8): the frame is per key. A post-group
            # filter BEFORE the frame (zebra test_map `group loc ~>
            # filter ~> latest 2`) narrows each key's stream first.
            if b.post_filters:
                if b.group_latest is not None:
                    raise ValueError(
                        "mixed filter/frame order after `group` is "
                        "unsupported"
                    )
                b.pg_before_latest = True
            b.group_latest = (
                n if b.group_latest is None else min(b.group_latest, n)
            )
            return
        if b.latest is None:
            b.latest = n
        elif b._filter_since_latest:
            # `latest A ~> filter ... ~> latest B`: A is the OUTER frame
            if b.latest_outer is not None:
                raise ValueError("more than two filtered latest frames")
            b.latest_outer, b.latest = b.latest, n
        else:
            b.latest = min(b.latest, n)  # latest A ~> latest B == min
        b._filter_since_latest = False
        return
    m = re.fullmatch(r"scan\s+([A-Za-z_]\w*)\s*=\s*(.+)", c, re.S)
    if m:
        # `scan b = agg e` (Query/Context.hs:33 LetScan, repl
        # t06.01/t17): bind b as the INCLUSIVE running value of the
        # fold over the stream at this position.
        sname, body = m.group(1), m.group(2).strip()
        if b.filters or b.binds:
            # the Feature IR computes scans BEFORE filter narrowing;
            # a scan over an already-filtered stream would need a
            # second stage — not in the reference corpus
            raise ValueError("scan after filter is unsupported")
        while True:
            inner = _strip_outer_parens(body)
            if inner is None:
                break
            body = inner
        mm = re.fullmatch(r"([a-z_][\w]*)\s+(.+)", body, re.S)
        if not mm:
            raise ValueError(f"unsupported scan body: {body!r}")
        kw, arg = mm.group(1), b.sub(mm.group(2).strip())
        scan_aggs = {
            "sum": Agg.SUM, "count": Agg.COUNT, "min": Agg.MIN,
            "max": Agg.MAX, "mean": Agg.MEAN,
            # prelude-style `second_last x = fold (a,b) = (None,None)
            # then (b, Some x) in a` (t06.01 :let): the running value
            # is the PREVIOUS element — a shift, not an accumulation
            "second_last": "second_last",
        }
        if kw not in scan_aggs:
            raise ValueError(
                f"scan supports sum/count/min/max/mean/second_last, "
                f"not {kw!r}"
            )
        if b.latest is not None:
            # `latest A ~> scan ...`: the scan runs over the latest-A
            # frame, so A becomes the OUTER frame (same promotion as
            # latest-then-filter, t17-latest:21-23)
            if b.latest_outer is not None:
                raise ValueError("more than two framed latest contexts")
            b.latest_outer, b.latest = b.latest, None
        b.scan_binds.append((sname, scan_aggs[kw], arg))
        return
    m = re.fullmatch(
        r"group\s+fold\s*\(\s*(\w+)\s*,\s*\(([\w\s,]+)\)\s*\)\s*=\s*\((.+)\)",
        c, re.S,
    )
    if m:
        # tuple VALUE binding (t09 `group fold (_, (severity, counts))
        # = (group location ~> (mean severity, count severity))`):
        # one hidden map fold per tuple component — same group key, so
        # the maps share a key set and component binds address the
        # aligned maps directly, no struct-valued map needed.
        kname, vbind_src, inner = m.groups()
        if b.group_fold is not None:
            raise ValueError("nested group folds are unsupported")
        vbinds = [x.strip() for x in vbind_src.split(",")]
        segs_i = _split_pipeline(inner)
        for cc in segs_i[:-1]:
            _apply_context(b, cc)
        if b.group is None:
            raise ValueError("group fold requires an inner `group k`")
        if b.nested_group:
            raise ValueError("group fold over nested groups unsupported")
        comps_i = _split_top_tuple(segs_i[-1])
        if comps_i is None or len(comps_i) != len(vbinds):
            raise ValueError(
                "tuple group fold needs an inner tuple matching the "
                f"value pattern: {segs_i[-1]!r}"
            )
        hs, ints = [], []
        for ci, comp in enumerate(comps_i):
            mm = re.fullmatch(r"([a-z_]+)\s*\(\s*\)", comp.strip())
            if mm and mm.group(1) == "count":
                agg, expr = Agg.COUNT, "1"
            else:
                mm = re.fullmatch(r"([a-z_]+)\s+(.+)", comp.strip(), re.S)
                if not (mm and mm.group(1) in _AGGS):
                    raise ValueError(
                        f"group fold inner aggregate unsupported: {comp!r}"
                    )
                agg, expr = _AGGS[mm.group(1)], b.sub(mm.group(2))
            h = f"__{b.qname}_g{ci}"
            b.feats.append(b.mk_feature(h, agg, expr))
            hs.append(h)
            ints.append(agg in (Agg.COUNT, Agg.COUNT_DISTINCT, Agg.NUMFLIPS))
        b.group = None  # consumed by the map folds
        b.group_fold = (kname, tuple(vbinds), tuple(hs), tuple(ints))
        return
    m = re.fullmatch(
        r"group\s+fold\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*=\s*\((.+)\)",
        c, re.S,
    )
    if m:
        # `group fold (k, v) = (group e ~> agg)` (Context.hs:36,
        # repl t09): evaluate the inner grouped aggregate as a hidden
        # map fold, bind (k, v) for the outer aggregate which becomes
        # a map-HOF postcomputation.
        kname, vname, inner = m.groups()
        if b.group_fold is not None:
            raise ValueError("nested group folds are unsupported")
        segs_i = _split_pipeline(inner)
        for cc in segs_i[:-1]:
            _apply_context(b, cc)
        if b.group is None:
            raise ValueError("group fold requires an inner `group k`")
        if b.nested_group:
            raise ValueError("group fold over nested groups unsupported")
        tail_i = segs_i[-1]
        mm = re.fullmatch(r"([a-z_]+)\s*\(\s*\)", tail_i)
        if mm and mm.group(1) == "count":
            agg, expr = Agg.COUNT, "1"
        else:
            mm = re.fullmatch(r"([a-z_]+)\s+(.+)", tail_i, re.S)
            if not (mm and mm.group(1) in _AGGS):
                raise ValueError(
                    f"group fold inner aggregate unsupported: {tail_i!r}"
                )
            agg, expr = _AGGS[mm.group(1)], b.sub(mm.group(2))
        hname = f"__{b.qname}_g"
        b.feats.append(b.mk_feature(hname, agg, expr))
        b.group = None  # consumed by the map fold
        int_valued = agg in (
            Agg.COUNT, Agg.COUNT_DISTINCT, Agg.NUMFLIPS,
        )
        b.group_fold = (kname, vname, hname, int_valued)
        return
    m = re.fullmatch(r"group\s+fold\s*\((.+)\)\s*=\s*\((.+)\)", c, re.S)
    if m and len(_split_top_tuple(f"({m.group(1).strip()})") or ()) == 2:
        # binder positions holding parenthesized EXPRESSIONS: the
        # textual inliner substituted a function's parameters into
        # the fold's (k, v) pattern (the reference's max_group
        # shadows its params deliberately — data/example
        # dictionary.icicle). Substitution is textually consistent,
        # so the same strings in the tail ARE the binds: store them
        # raw; _group_fold_tail matches binds with re.escape.
        kname, vname = (
            x.strip() for x in _split_top_tuple(f"({m.group(1).strip()})")
        )
        if b.group_fold is not None:
            raise ValueError("nested group folds are unsupported")
        segs_i = _split_pipeline(m.group(2))
        for cc in segs_i[:-1]:
            _apply_context(b, cc)
        if b.group is None:
            raise ValueError("group fold requires an inner `group k`")
        if b.nested_group:
            raise ValueError("group fold over nested groups unsupported")
        tail_i = segs_i[-1].strip()
        while True:  # substitution may wrap several paren layers
            inner2 = _strip_outer_parens(tail_i)
            if inner2 is None or inner2.strip() == tail_i:
                break
            tail_i = inner2.strip()
        mm = re.fullmatch(r"([a-z_]+)\s+(.+)", tail_i, re.S)
        if not (mm and mm.group(1) in _AGGS):
            raise ValueError(
                f"group fold inner aggregate unsupported: {tail_i!r}"
            )
        agg, expr = _AGGS[mm.group(1)], b.sub(mm.group(2))
        hname = f"__{b.qname}_g"
        b.feats.append(b.mk_feature(hname, agg, expr))
        b.group = None
        int_valued = agg in (Agg.COUNT, Agg.COUNT_DISTINCT, Agg.NUMFLIPS)
        b.group_fold = (kname, vname, hname, int_valued)
        return
    m = re.fullmatch(r"group\s+(.+)", c, re.S)
    if m:
        key = b.sub(m.group(1))
        if b.group is None:
            b.group = key
        else:
            # nested group (repl t02.1 `group a ~> group b ~> agg`):
            # a fact's OUTER key fixes its bucket, so the nest is one
            # composite-key group; the output postcomp rebuilds the
            # map-of-maps shape (folds_ext.nest_map rationale).
            if b.nested_group:
                raise ValueError("more than two group levels unsupported")
            b.nested_group = True
            b.group = (
                f"concat(cast(({b.group}) as string), '|', "
                f"cast(({key}) as string))"
            )
        return
    m = re.fullmatch(r"distinct\s+(.+)", c, re.S)
    if m:
        key = b.sub(m.group(1))
        scoped = b.group is not None
        if scoped and b.nested_group:
            raise ValueError("distinct under nested groups unsupported")
        if b.distinct is None:
            b.distinct = key
            b.distinct_scoped = scoped
        else:
            if scoped != b.distinct_scoped:
                raise ValueError(
                    "mixed global/grouped distinct chain unsupported"
                )
            # chained distinct (t02.1 `distinct a ~> distinct b`):
            # SEQUENTIAL nubs — the inner distinct sees only the
            # first-per-outer-key substream, NOT a composite key.
            if isinstance(b.distinct, str):
                b.distinct = [b.distinct, key]
            else:
                b.distinct = [*b.distinct, key]
        return
    m = re.fullmatch(
        r"(fold1?)\s*\(\s*([\w\s,]+?)\s*\)\s*=\s*(.+?)\s+then\s+(.+)",
        c, re.S,
    )
    if m:
        # tuple-accumulator fold (t06 `fold (xcount, xsum) = (0, 0)
        # then (xcount + 1, xsum + value)`): when each step component
        # references only its OWN bind, the tuple splits into
        # independent scalar folds (the reference fuses them back —
        # same Core program either way). Cross-component state (e.g.
        # second_last's (b, Some x)) cannot split: reject loudly.
        kw, binds_src, init_src, step_src = m.groups()
        binds = [x.strip() for x in binds_src.split(",")]
        inits = _split_top_tuple(init_src.strip())
        steps = _split_top_tuple(step_src.strip())
        if inits is None or steps is None or not (
            len(binds) == len(inits) == len(steps)
        ):
            raise ValueError(
                f"tuple fold arity mismatch in {c!r}"
            )
        for i, st in enumerate(steps):
            for j, other in enumerate(binds):
                if j != i and re.search(rf"\b{re.escape(other)}\b", st):
                    raise ValueError(
                        "tuple folds with cross-component state are "
                        "unsupported (each component may reference "
                        "only its own accumulator)"
                    )
        for bind, ini, st in zip(binds, inits, steps):
            if bind == "_":
                continue
            _apply_context(b, f"{kw} {bind} = {ini} then {st}")
        return
    m = re.fullmatch(
        r"(fold1?)\s+(\w+)\s*=\s*(.+?)\s+then\s+(.+)", c, re.S
    )
    if m:
        kw, bind, init_src, step_src = m.groups()
        if bind in b.folds or bind in b.lets or bind in b.agg_lets:
            raise ValueError(f"fold bind {bind!r} already bound")
        # fold bodies are Icicle expressions (exprlang): constructors,
        # case patterns, maps and the scalar builtins all parse natively
        b.folds[bind] = _compile_fold(
            bind,
            _unmask(b.sub(init_src), b.strlits),
            _unmask(b.sub(step_src), b.strlits),
            kw == "fold1",
        )
        return
    m = re.fullmatch(r"let\s+(.+)", c, re.S)
    if m:
        # multiple bindings separate with `;` (t09.1:
        # `let a = (...); b = (...)`) or by the layout rule
        # (data/example mean_day_of_week's let block)
        for semi in _split_top_semis(m.group(1)):
            for binding in _split_layout_bindings(semi.strip()):
                _apply_one_let(b, binding.strip())
        return
    raise ValueError(f"unsupported context: {c!r}")


_BIND_GUARDS = {"fold", "fold1", "scan", "let", "Some", "None", "filter"}


def _split_layout_bindings(s: str) -> list[str]:
    """Split a multi-binding ``let`` block bound by the reference's
    layout rule (``let a = e1\\n  b = e2\\n in ...`` — newline
    structure lost when top-level blocks join into one line) on
    top-level ``ident =`` boundaries. A ``=`` inside parens, part of
    ``==``, or introduced by a fold/scan/filter-let keyword does not
    start a new binding. Runs on MASKED text (string literals carry
    no ``=``)."""
    bounds: list[int] = []
    depth = 0
    for m in re.finditer(r"(?<![\w'])([\w']+)\s*=(?![=])", s):
        p = m.start()
        d = 0
        for ch in s[:p]:
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
        if d != 0:
            continue
        prev = s[:p].split()
        if prev and prev[-1] in _BIND_GUARDS:
            continue
        if prev and prev[-1][-1:] in "<>!+-*/%^=,":
            continue  # operator context: `x <= y`, `a == b` halves
        bounds.append(p)
    if len(bounds) <= 1:
        return [s]
    if bounds[0] != 0 and not s[: bounds[0]].strip().startswith("("):
        # leading non-binding text (shouldn't happen in a let block)
        return [s]
    starts = [0] + bounds[1:]
    return [
        s[a:b].strip()
        for a, b in zip(starts, starts[1:] + [len(s)])
        if s[a:b].strip()
    ]


def _split_top_semis(s: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == ";" and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def _apply_one_let(b: _Builder, binding: str) -> None:
    # tuple pattern: `let (x, _) = (a, b)` binds component-wise
    # (Exp.hs tuple binds, repl t04-lets:27-31)
    m = re.fullmatch(r"\(\s*([\w'\s,_]+?)\s*\)\s*=\s*(.+)", binding, re.S)
    if m and "," in m.group(1):
        names = [p.strip() for p in m.group(1).split(",")]
        rhs = m.group(2).strip()
        comps = _split_top_tuple(rhs)
        if comps is None or len(comps) != len(names):
            raise ValueError(
                f"tuple let pattern arity mismatch: {binding!r}"
            )
        for nm, comp in zip(names, comps):
            if nm == "_":
                continue
            _apply_one_let(b, f"{nm} = {comp.strip()}")
        return
    m = re.fullmatch(r"(\w[\w']*)\s*=\s*(.+)", binding, re.S)
    if not m:
        raise ValueError(f"unsupported let binding: {binding!r}")
    nm, rhs = m.group(1), m.group(2).strip()
    if (
        nm in b.lets or nm in b.agg_lets or nm in b.folds
        or nm in b.elem_markers
    ):
        raise ValueError(f"let {nm!r} already bound")
    # `array fold v = COL ~> agg v` — a PER-FACT reduction over an
    # array-typed column (repl t09.1, Context.hs ArrayFold): lowers to
    # JVM array HOFs, an element-level bind
    inner = _strip_outer_parens(rhs)
    mm = re.fullmatch(
        r"array\s+fold\s+(\w+)\s*=\s*(\w+)\s*~>\s*(.+)",
        inner if inner is not None else rhs, re.S,
    )
    if mm:
        v, col, atail = mm.group(1), mm.group(2), mm.group(3).strip()
        if re.fullmatch(rf"count\s+(?:{re.escape(v)}|\(\s*\))", atail):
            b.lets[nm] = f"size({col})"
        elif re.fullmatch(rf"sum\s+{re.escape(v)}", atail):
            b.lets[nm] = (
                f"aggregate({col}, cast(0 as bigint), (a, x) -> a + x)"
            )
        elif re.match(rf"group\s+{re.escape(v)}\b", atail):
            # `array fold v = COL ~> group v ~> E` — per-fact map of
            # distinct elements; only consumable by the paired
            # `group fold (k,v) = NAME ~> sum k` (sum of distinct)
            b.elem_markers[nm] = col
        else:
            raise ValueError(f"unsupported array fold tail: {atail!r}")
        return
    # `group fold (k,v) = NAME ~> sum k` over an array-fold group
    # marker: sum of the map's KEYS = sum of distinct array elements
    mm = re.fullmatch(
        r"group\s+fold\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*=\s*(\w+)"
        r"\s*~>\s*sum\s+(\w+)",
        inner if inner is not None else rhs, re.S,
    )
    if mm and mm.group(3) in b.elem_markers:
        if mm.group(4) != mm.group(1):
            raise ValueError(
                "group fold over an element map supports `sum k` only"
            )
        col = b.elem_markers[mm.group(3)]
        b.lets[nm] = (
            f"aggregate(array_distinct({col}), cast(0 as bigint), "
            f"(a, x) -> a + x)"
        )
        return
    # aggregate-valued SUBQUERY binds: `let arr = (latest 3 ~> value)`
    # (repl t80, t31) — compile the parenthesized pipeline to hidden
    # folds; the bind becomes a postcomp fragment
    lowered = _lower_subqueries(b, rhs)
    if lowered != rhs:
        b.agg_lets[nm] = f"({b.sub_agg(lowered)})"
        return
    if _AGG_KW.search(rhs) or any(
        re.search(rf"\b{re.escape(x)}\b", rhs)
        for x in (*b.folds, *b.agg_lets)
    ):
        # aggregate `let` (repl t04-lets): its folds FREEZE the
        # contexts seen so far; the value is a postcomp fragment
        # element lets are constants at aggregate level — b.sub
        # covers uses OUTSIDE aggregate arguments too
        b.agg_lets[nm] = (
            "(" + b.sub(b.sub_agg(_extract_aggs(b, rhs))) + ")"
        )
    else:
        b.lets[nm] = b.sub(rhs)


_AGG_KW = re.compile(
    r"(?<![\w'.])(numflips'|sum|count|mean|min|max|newest|oldest|variance|sd|any"
    r"|all|max_by|min_by|covariance|correlation|gradient|intercept"
    r"|numflips|circular_stats)(?![\w'])"
)

# two-argument prelude aggregates (prelude.icicle:219-255): lowered to
# pair-masked SUM/COUNT folds + a closed-form postcomp fragment —
# exactly how the reference derives them from fold primitives. The
# `+ 0 * other` masking makes every fold's element null iff EITHER
# input is null, so skip_nulls drops (and Possibly poisons) PAIRS.
_AGG2_KW = {"covariance", "correlation", "gradient", "intercept"}

# Juxtaposed scalar functions (Icicle application syntax `double x`,
# prelude.icicle / Builtin.hs): rewritten to Spark SQL calls. `log`
# is natural log (Spark SQL's ln).
_JUXTA_SQL = {
    "double": "double({})", "trunc": "int({})", "log": "ln({})",
    "exp": "exp({})", "sqrt": "sqrt({})", "abs": "abs({})",
    "floor": "floor({})", "ceil": "ceiling({})",
    "sin": "sin({})", "cos": "cos({})", "tan": "tan({})",
    "asin": "asin({})", "acos": "acos({})", "atan": "atan({})",
    "sinh": "sinh({})", "cosh": "cosh({})", "tanh": "tanh({})",
    "atan2": "atan2({0}, {1})",
    # prelude.icicle:8-17 mod/int_div (trunc-division forms; the
    # reference bakes the prelude in, so these bind as builtins).
    # nullif guards the Possibly zero-divisor (ANSI % 0 throws; the
    # reference's trunc(x/0) overflows to an error value = None here)
    "mod": "(({0}) % nullif(({1}), 0))",
    "pi": "pi()",
    "int_div": "int(double({0}) / nullif(double({1}), 0))",
    # days since the Ivory epoch 1600-03-01
    # (Time.hs:149-165 daysCountIvory)
    "days": "datediff(CAST(({}) AS DATE), DATE '1600-03-01')",
    "days_between": "datediff(CAST(({1}) AS DATE), CAST(({0}) AS DATE))",
    "year_of": "year({})", "month_of": "month({})", "day_of": "day({})",
    # arrays / options / pairs (Prim.hs, prelude.icicle)
    "sort": "array_sort({})", "length": "size({})",
    "index": "get(({0}), ({1}))",  # 0-based, null OOB (Prim.hs:147-152)
    "keys": "map_keys({})", "vals": "map_values({})",
    "get": "({})", "get_or_else": "coalesce(({1}), ({0}))",
    "is_some": "(({}) IS NOT NULL)", "is_none": "(({}) IS NULL)",
    "box": "({})", "fst": "({}).f1", "snd": "({}).f2",
    "seq": "({1})", "not": "(NOT ({}))",
    # text scalars (SURVEY §2.7; functions/text.py Column parity)
    "strlen": "length({})", "tolower": "lower({})",
    "toupper": "upper({})",
    "grepl": "(({1}) RLIKE ({0}))",
    "grepl_count": "size(regexp_extract_all(({1}), ({0}), 0))",
}
_JUXTA_ARGN = {"atan2": 2, "days_between": 2, "index": 2,
               "get_or_else": 2, "seq": 2, "grepl": 2,
               "grepl_count": 2, "mod": 2, "int_div": 2, "pi": 0}
def _juxta(s: str) -> str:
    """`double x` / `log (x + 1)` -> Spark SQL call syntax, recursively
    (also normalizes call syntax `log(x)` — same rewrite). Multi-arg
    builtins (`atan2 a b`, `index arr i`) consume one atom per
    argument — application binds tightest."""
    # Icicle boolean operators: Spark SQL has no `&&`, and `||` is
    # string CONCAT there — silently wrong on booleans. Runs on masked
    # text, so literals never rewrite.
    s = s.replace("||", " OR ").replace("&&", " AND ")
    pat = re.compile(
        r"\b(" + "|".join(_JUXTA_SQL) + r")(?![\w'])"
    )
    out: list[str] = []
    i = 0
    while True:
        m = pat.search(s, i)
        if not m:
            out.append(s[i:])
            return "".join(out)
        out.append(s[i : m.start()])
        kw = m.group(1)
        args: list[str] = []
        j = m.end()
        for _ in range(_JUXTA_ARGN.get(kw, 1)):
            atom, j = _scan_atom(s, j, kw)
            inner = atom[1:-1] if atom.startswith("(") else atom
            args.append(_juxta(inner))
        out.append(_JUXTA_SQL[kw].format(*args))
        i = j


def _scan_atom(s: str, i: int, what: str) -> tuple[str, int]:
    """One aggregate argument: an identifier / number / string, or a
    balanced parenthesized group (application binds tightest, so
    ``sum value / count value`` reads ``(sum value) / (count value)``
    — the reference grammar's function application rule)."""
    n = len(s)
    while i < n and s[i].isspace():
        i += 1
    if i >= n:
        raise ValueError(f"missing argument after {what!r}")
    if s[i] == "-":  # prefix negation is in the reference grammar
        atom, j = _scan_atom(s, i + 1, what)
        return f"-{atom}", j
    if s[i] == "(":
        depth = 0
        for j in range(i, n):
            if s[j] == "(":
                depth += 1
            elif s[j] == ")":
                depth -= 1
                if depth == 0:
                    return s[i : j + 1], j + 1
        raise ValueError(f"unbalanced parens in {what!r} argument")
    # unquoted date literal (reference Lexer.hs lexes YYYY-MM-DD as a
    # Time — repl t14 `days_between (newest time) 2014-01-01`): takes
    # precedence over reading `2014` as a number
    m = re.match(r"\d{4}-\d{2}-\d{2}(?!\d)", s[i:])
    if m:
        return f"DATE '{m.group(0)}'", i + m.end()
    m = re.match(
        r"[A-Za-z_][\w']*|\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
        r"|\"(?:\\.|[^\"\\])*\"",
        s[i:],
    )
    if not m:
        raise ValueError(f"cannot parse {what!r} argument at: {s[i:]!r}")
    return m.group(0), i + m.end()


def _group_fold_tail_tuple(
    tail: str, k: str, vbinds: tuple, hs: tuple, ints: tuple
) -> str:
    """Outer aggregate of a TUPLE-valued `group fold (k, (a, b)) =
    (...)` (repl t09:14): the tuple components live in ALIGNED hidden
    maps (same group key), so `min_by counts severity` reads the
    severity map at the key whose counts-map value is minimal —
    smallest key on ties, Data.Map iteration order."""
    t = tail.strip()
    m = re.fullmatch(r"(max_by|min_by)\s+([\w']+)\s+([\w']+)", t)
    if m and m.group(2) in vbinds and m.group(3) in vbinds:
        kind, rank, ret = m.groups()
        hr = hs[vbinds.index(rank)]
        ho = hs[vbinds.index(ret)]
        ext = "array_max" if kind == "max_by" else "array_min"
        key = (
            f"array_min(transform(filter(map_entries({hr}), "
            f"e -> e.value = {ext}(map_values({hr}))), e -> e.key))"
        )
        return f"element_at({ho}, {key})"
    # single-component tails delegate to the scalar form
    for i, vb in enumerate(vbinds):
        others = [x for x in vbinds if x != vb]
        if re.search(rf"\b{re.escape(vb)}\b", t) and not any(
            re.search(rf"\b{re.escape(o)}\b", t) for o in others
        ):
            return _group_fold_tail(t, k, vb, hs[i], ints[i])
    raise ValueError(f"unsupported tuple group fold aggregate: {tail!r}")


def _group_fold_tail(
    tail: str, k: str, v: str, h: str, int_valued: bool
) -> str:
    """Outer aggregate of a `group fold (k, v) = (...)` — a pure
    map-HOF Spark-SQL postcomputation over the hidden map fold ``h``
    (ToCore/ToCore.hs:190-220 lowers these to PrimFoldMap; here the
    finished map is a column, so the fold is aggregate()/array_max
    over map_values — no shuffle, no Python)."""
    t = tail.strip()
    vals = f"map_values({h})"
    if re.fullmatch(rf"sum\s+{re.escape(v)}", t):
        if int_valued:
            return (
                f"aggregate({vals}, cast(0 as bigint), (a, x) -> a + x)"
            )
        return (
            f"aggregate({vals}, cast(0.0 as double), "
            f"(a, x) -> a + cast(x as double))"
        )
    if re.fullmatch(rf"count\s+(?:{re.escape(v)}|{re.escape(k)})", t):
        return f"cast(size({h}) as bigint)"
    if re.fullmatch(rf"max\s+{re.escape(v)}", t):
        return f"array_max({vals})"
    if re.fullmatch(rf"min\s+{re.escape(v)}", t):
        return f"array_min({vals})"
    if re.fullmatch(rf"(max_by|min_by)\s+{re.escape(v)}\s+{re.escape(k)}", t):
        ext = "array_max" if t.startswith("max_by") else "array_min"
        # smallest key achieving the extreme value — deterministic
        return (
            f"array_min(transform(filter(map_entries({h}), "
            f"e -> e.value = {ext}({vals})), e -> e.key))"
        )
    raise ValueError(f"unsupported group fold aggregate: {tail!r}")


def _has_tuple_comma(s: str) -> bool:
    """A comma at top level or inside a NON-call parenthesized group
    is Icicle tuple syntax; commas inside call syntax ``f(a, b)``
    (e.g. generated nullif/sqrt fragments) are not."""
    stack: list[bool] = []
    prev = ""
    for ch in s:
        if ch == "(":
            stack.append(bool(re.fullmatch(r"[\w)]", prev)))
        elif ch == ")":
            if stack:
                stack.pop()
        elif ch == "," and (not stack or not stack[-1]):
            return True
        if not ch.isspace():
            prev = ch
    return False


def _safe_divisions(s: str) -> str:
    """Wrap every division's DENOMINATOR in ``nullif(x, 0)``.

    Icicle's `/` on an empty stream divides a unit-init fold by a zero
    count; the engine encodes Possibly computation errors as nulls
    (functions/scalars safe_div convention, Error64 CannotCompute), so
    postcomputation division-by-zero yields null — never an ANSI
    exception, and never IEEE NaN. Denominators are single operands in
    this grammar (atoms, call syntax, or a juxtaposed builtin +
    argument), so a linear scan suffices."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        out.append(ch)
        i += 1
        if ch != "/":
            continue
        start = i
        atom, j = _scan_atom(s, i, "/")
        if atom in _JUXTA_SQL:
            # juxtaposed builtin: its argument(s) belong to the operand
            for _k in range(_JUXTA_ARGN.get(atom, 1)):
                _arg, j = _scan_atom(s, j, atom)
        elif re.fullmatch(r"[A-Za-z_]\w*", atom) and re.match(
            r"\s*\(", s[j:]
        ):
            # call syntax f(...): consume the balanced group
            _grp, j = _scan_atom(s, j, atom)
        operand = s[start:j].strip()
        if "/" in operand:
            operand = _safe_divisions(operand)
        out.append(f" nullif({operand}, 0)")
        i = j
    return "".join(out)



def _days_between_ts(a, b) -> int:
    """Whole calendar days between two instants (reference
    Time.hs daysDifference: date-granular)."""
    import pandas as pd

    return int(
        (pd.Timestamp(b).normalize() - pd.Timestamp(a).normalize()).days
    )


def _days_in_fold() -> CustomFold:
    """The prelude's days_in fold (prelude.icicle:344-356): track runs
    of consecutive equal states; on change credit the accumulated days
    to the OLD state; the OUTPUT stage closes the final run against
    `now` (the query time) — hence output_qt."""

    def step(acc, xt):
        x, t = xt
        if acc is None:  # fold1 seeding from the first fact
            return (x, t, 0, {})
        y, y_time, n, m = acc
        n = n + _days_between_ts(y_time, t)
        if y == x:
            return (x, t, n, m)
        m = dict(m)
        k = str(y)
        m[k] = m.get(k, 0) + n
        return (x, t, 0, m)

    def out(acc, qt):
        if acc is None:
            return None  # fold1 over an empty stream has no value
        y, y_time, n, m = acc
        n = n + _days_between_ts(y_time, qt)
        m = dict(m)
        k = str(y)
        m[k] = m.get(k, 0) + n
        # Data.Map key order (plans/maporder.py): the prelude builds
        # this as a Data.Map, so it renders in ascending-key order
        return {kk: int(m[kk]) for kk in sorted(m)}

    return CustomFold(
        init=None, step_seq=step, output_qt=out,
        dtype="map<string,bigint>",
    )


def parse_query_multi(
    q: str,
    name: str = "q0",
    skip_nulls: bool = False,
    big_data: bool = False,
) -> tuple[str, list[Feature], list[tuple[str, str]], list[str]]:
    """Parse one query; returns ``(input_name, features, postcomps,
    hidden)``.  A simple-aggregate tail yields one visible feature and
    empty postcomps; an aggregate EXPRESSION yields one hidden fold
    per aggregate subterm plus one postcomputation named ``name``
    (the reference Core split — folds then postcomps,
    Core/Program/Program.hs:33-36).  ``big_data=True`` mirrors the
    reference's resumable-query check (`:set +big-data`, t40-bigdata):
    every fold/group/distinct must sit inside windowed or latest."""
    import dataclasses

    q, _strlits = _mask_strings(q)
    # `in` is Icicle's let-body / pipeline separator (Query.hs: `from
    # x in ...` and `let a = e in body` — the repl corpus t09.1, t31,
    # t60 write whole pipelines with it). `~>` is the same separator;
    # normalizing on masked text keeps literals containing " in " safe.
    q = re.sub(r"\bin\b", "~>", q)
    segs = _split_pipeline(q.strip())
    m = re.fullmatch(r"from\s+([A-Za-z_]\w*)", segs[0])
    if not m:
        raise ValueError(f"query must start with 'from INPUT': {segs[0]!r}")
    input_name = m.group(1)
    if len(segs) < 2:
        raise ValueError("query has no aggregate")
    b = _Builder(name, skip_nulls, big_data)
    b.strlits = _strlits
    for c in segs[1:-1]:
        _apply_context(b, c)
    tail = segs[-1].strip()

    if b.group_fold is not None:
        if isinstance(b.group_fold[1], tuple):
            post = _unmask(
                _group_fold_tail_tuple(tail, *b.group_fold), b.strlits
            )
        else:
            post = _unmask(
                _group_fold_tail(tail, *b.group_fold), b.strlits
            )
        return (
            input_name,
            b.feats,
            [(name, post)],
            [f.name for f in b.feats],
        )

    m_di = re.fullmatch(r"days_in\s+([\w']+)\s+([\w']+)\s+now", tail)
    if m_di and b.group is None and b.distinct is None:
        # prelude days_in x x_time now (prelude.icicle:344-356, repl
        # t31 golden: NY 365 / CA 1461 / OR 365): a run-length fold
        # whose output closes the final run against the query time
        vcol, tcol = b.sub(m_di.group(1)), b.sub(m_di.group(2))
        feat = b.mk_feature(
            name, _days_in_fold(), _fold_expr([vcol, tcol]),
            dtype="map<string,bigint>",
        )
        return input_name, [feat], [], []

    comps = _split_top_tuple(tail)
    if (
        comps is not None
        and b.group is None
        and b.distinct is None
        and b.latest is not None
        and not any(_AGG_KW.search(c) for c in comps)
        and not any(
            re.search(rf"\b{re.escape(k)}\b", c)
            for k in [*b.agg_lets, *b.fold_feats]
            for c in comps
        )
    ):
        # ELEMENT tuple under `latest N` (repl t15 `latest 5 ~>
        # (value, tombstone)`): one hidden COLLECT per component,
        # zipped into an array of structs. Inside latest each element
        # boxes its OWN error (ReifyPossibility.hs) — a null
        # component nulls that element's struct, not the array.
        hs = []
        for comp in comps:
            h = b.fresh()
            b.feats.append(
                b.mk_feature(
                    h, Agg.COLLECT, b.sub(comp),
                    dtype=_collect_dtype(b, comp),
                )
            )
            hs.append(h)
        body = "named_struct(" + ", ".join(
            f"'f{i + 1}', s.{h}" for i, h in enumerate(hs)
        ) + ")"
        null_any = " or ".join(f"s.{h} is null" for h in hs)
        post = (
            f"transform(arrays_zip({', '.join(hs)}), "
            f"s -> case when {null_any} then null else {body} end)"
        )
        return (
            input_name,
            b.feats,
            [(name, post)],
            [f.name for f in b.feats],
        )
    if comps is not None and b.group is None and b.distinct is None:
        # tuple output (Exp.hs tuple ctors, repl t01/t05/t10/t20):
        # each component compiles to hidden folds + a postcomp
        # fragment; the visible output is one struct column f1..fN.
        # (The reference prints N-tuples as left-nested pairs; the
        # flat struct is the same value up to association.)
        def _tuple_frag(comp: str) -> str:
            inner = _split_top_tuple(comp.strip())
            if inner:
                # NESTED tuple component (t07 `((newest .., newest ..),
                # sum ..)`): a nested struct, not a flattened one
                return "named_struct(" + ", ".join(
                    f"'f{j + 1}', {_tuple_frag(ci)}"
                    for j, ci in enumerate(inner)
                ) + ")"
            low = _lower_subqueries(b, comp)
            rew = _extract_aggs(b, low)
            rew = b.sub(b.sub_agg(rew)).strip()
            return _render_post(b, rew)

        frags = [_tuple_frag(comp) for comp in comps]
        if not b.feats:
            # all-constant tuple (t07 `(map_insert 0 0 map_create, 0)`)
            # still emits one row per entity: a context-free presence
            # fold establishes the entity set
            b.feats.append(Feature(b.fresh(), Agg.COUNT, "1"))
        post = "named_struct(" + ", ".join(
            f"'f{i + 1}', {f}" for i, f in enumerate(frags)
        ) + ")"
        return (
            input_name,
            b.feats,
            [(name, post)],
            [f.name for f in b.feats],
        )

    n0 = len(b.feats)  # feats that existed before the tail (agg lets)
    rewritten = _extract_aggs(b, _lower_subqueries(b, tail))
    had_let_ref = any(
        re.search(rf"\b{re.escape(k)}\b", rewritten) for k in b.agg_lets
    )
    # element lets are constants at aggregate level (t04-lets:5 uses
    # `sx` both inside `sum (value + sx)` and outside as `sx * count`)
    rewritten = b.sub(b.sub_agg(rewritten)).strip()

    if (
        len(b.feats) == n0
        and n0 > 0
        and not had_let_ref
        and not _is_constant_tail(b, rewritten)
    ):
        # aggregate `let` bindings with an ELEMENT-stage body: the
        # definition could never be used (reference Check error,
        # "Conflicting let temporalities" — t08-randomly golden)
        raise ValueError(
            "conflicting let temporalities: aggregate `let` "
            "definitions cannot precede an element body"
        )

    if not b.feats and not had_let_ref:
        if b.latest is not None or (
            b.group is not None and b.group_latest is not None
        ):
            # bare element expr under latest N -> array result;
            # under `group k ~> latest N` -> map key -> array
            # (t17-latest:4, t70-zebra)
            return (
                input_name,
                [b.mk_feature(
                    name, Agg.COLLECT, b.sub(tail),
                    dtype=_collect_dtype(b, tail),
                )],
                [],
                [],
            )
        if _is_constant_tail(b, rewritten):
            # constant aggregate (repl t01.2 `acos 1`, t31 `year_of
            # now`, t13 constant cases): contexts do not narrow a
            # constant — every entity in the visible stream appears
            # (hence the context-FREE presence fold), and the value is
            # a pure postcomp (`now` = the exclusive query instant)
            h = b.fresh()
            b.feats.append(Feature(h, Agg.COUNT, "1"))
            return (
                input_name,
                b.feats,
                [(name, _render_post(b, rewritten))],
                [f.name for f in b.feats],
            )
        raise ValueError(f"unsupported aggregate form: {tail!r}")
    # a tail that is exactly one fold (possibly parenthesized) needs
    # no postcomputation: emit the fold under the output name
    core = re.fullmatch(r"\(\s*(__\w+)\s*\)", rewritten)
    core = core.group(1) if core else rewritten
    if (
        len(b.feats) == 1
        and core == b.feats[0].name
        # a fold frozen BEFORE an active group context is a scalar,
        # but the query's result is a per-key map (t04 'let x = sum
        # value ~> group value ~> x') — fall through to the group
        # branch, which broadcasts it over the key set
        and not (b.group is not None and b.feats[0].group is None)
    ):
        if b.nested_group:
            h = b.fresh()
            b.feats[0] = dataclasses.replace(b.feats[0], name=h)
            return (
                input_name,
                b.feats,
                [(name, _nest_map_sql(h))],
                [f.name for f in b.feats],
            )
        return (
            input_name,
            [dataclasses.replace(b.feats[0], name=name)],
            [],
            [],
        )
    if b.group is not None:
        # aggregate arithmetic over GROUP maps: per-key postcomp via
        # transform_values / map_zip_with (repl t02 `group time ~>
        # sum (value + 3) * 5`). All subterms share the group's key
        # set (same visibility), so zipped keys align. (`distinct`
        # aggregates are SCALARS — one first-fact-per-key stream fold,
        # t03 goldens — so they take the plain postcomp path below.)
        # Referenced fold columns split into MAP-valued (their group
        # context froze at b.group — tail aggs, post-group agg lets,
        # post-group fold binds) and SCALAR (agg lets frozen BEFORE
        # the group context — t04 'Agg let before and after group':
        # the scalar broadcasts into every key's value).
        map_names: list[str] = []
        for f in b.feats:
            if f.group is None:
                continue
            if re.search(rf"\b{re.escape(f.name)}\b", rewritten) and (
                f.name not in map_names
            ):
                map_names.append(f.name)
        if not map_names:
            # PURE-scalar tail under a group context (t04 'let x =
            # sum value ~> group value ~> x'): the reference's result
            # is still a MAP — the group establishes the key set and
            # the frozen scalar broadcasts into every key's value
            # (ToCore/Fold.hs keeps the group stream; the let is a
            # pre-group accumulator). Synthesize the key-set map.
            h = b.fresh()
            b.feats.append(b.mk_feature(h, Agg.COUNT, "1"))
            map_names.append(h)
        if len(map_names) > 2:
            raise ValueError(
                "aggregate arithmetic over group maps supports 1-2 "
                "map-valued subterms (scalars broadcast freely)"
            )

        def _lam(body: str) -> str:
            for i, nm in enumerate(map_names):
                body = re.sub(rf"\b{re.escape(nm)}\b", f"__v{i}", body)
            # Option wrapping is the identity on the engine's nullable
            # values (zebra test_map_double `Some (mean ...)`); a bare
            # `Some` in SQL would resolve to Spark's SOME aggregate
            body = re.sub(r"\bSome\b\s*", "", body)
            return _juxta(_safe_divisions(body))

        comps = _split_top_tuple(rewritten)
        if comps is not None:
            # tuple over a group map (t04/t06/t17): one struct per key
            body = "named_struct(" + ", ".join(
                f"'f{i + 1}', {_lam(c)}" for i, c in enumerate(comps)
            ) + ")"
        else:
            body = _lam(rewritten)
        if len(map_names) == 1:
            post = (
                f"transform_values({map_names[0]}, "
                f"(__k, __v0) -> {body})"
            )
        else:
            post = (
                f"map_zip_with({map_names[0]}, {map_names[1]}, "
                f"(__k, __v0, __v1) -> {body})"
            )
        if b.nested_group:
            post = _nest_map_sql(f"({post})")
        return (
            input_name,
            b.feats,
            [(name, _unmask(post, b.strlits))],
            [f.name for f in b.feats],
        )
    if _has_tuple_comma(rewritten):
        raise ValueError(
            "tuple outputs are unsupported; declare one output per "
            "component (they fuse into one pass anyway)"
        )
    # postcomps are always Spark SQL; divisions are null-on-zero (the
    # engine's Possibly error channel), then juxtaposed builtins;
    # case/if over fold outputs render through exprlang (_render_post)
    return (
        input_name,
        b.feats,
        [(name, _render_post(b, rewritten))],
        [f.name for f in b.feats],
    )


def parse_query(
    q: str,
    name: str = "q0",
    skip_nulls: bool = False,
) -> tuple[str, Feature]:
    """Parse one `from INPUT ~> ... ~> AGG` query string; returns
    (input_name, Feature). ``skip_nulls=False`` is the faithful
    Possibly default (a null element poisons the aggregate). Queries
    whose tail is an aggregate EXPRESSION compile to several folds +
    a postcomputation — use :func:`parse_query_multi` /
    :func:`parse_program` for those."""
    input_name, feats, posts, _hidden = parse_query_multi(
        q, name, skip_nulls
    )
    if posts or len(feats) != 1:
        raise ValueError(
            "query compiles to folds + a postcomputation; use "
            "parse_query_multi or parse_program"
        )
    return input_name, feats[0]


def parse_program(
    queries: dict[str, str] | list[str],
    dialect: str = "sql",
    skip_nulls: bool = False,
    entity_col: str = "entity",
    time_col: str = "time",
    seq_col: str | None = None,
    tombstone_col: str | None = None,
    functions: str | Mapping[str, tuple[list[str], str]] | None = None,
) -> dict[str, Plan]:
    """Parse many queries and FUSE them per input (the reference fuses
    all queries over one attribute into a single pass —
    Core/Program/Fusion.hs:37-81). Returns {input_name: Plan}.

    Element expressions compile to Spark SQL; ``dialect`` accepts only
    ``"sql"`` and remains for callers that name it.

    ``functions`` supplies custom function definitions to inline at
    call sites (the repl ``:let f x = ...`` surface): either module
    SOURCE text (``f x = body`` declarations, signatures ignored) or
    a prebuilt ``{name: (params, body)}`` mapping."""
    items = (
        queries.items()
        if isinstance(queries, dict)
        else ((f"q{i}", q) for i, q in enumerate(queries))
    )
    if dialect != "sql":
        raise ValueError(
            f"dialect {dialect!r}: element expressions are Spark SQL only"
        )
    funcs: Mapping[str, tuple[list[str], str]] = {}
    if isinstance(functions, str):
        funcs = _collect_functions(_top_level_blocks(functions))
    elif functions:
        funcs = functions
    feats: dict[str, list[Feature]] = {}
    posts: dict[str, list[tuple[str, str]]] = {}
    hidden: dict[str, list[str]] = {}
    for name, q in items:
        if funcs:
            q = inline_functions(q, funcs)
        inp, fs, ps, hs = parse_query_multi(q, name, skip_nulls)
        feats.setdefault(inp, []).extend(fs)
        posts.setdefault(inp, []).extend(ps)
        hidden.setdefault(inp, []).extend(hs)
    return {
        inp: Plan(
            fs,
            entity_col=entity_col,
            time_col=time_col,
            seq_col=seq_col,
            tombstone_col=tombstone_col,
            postcomps=tuple(posts[inp]),
            hidden=tuple(hidden[inp]),
        )
        for inp, fs in feats.items()
    }


# ---- dictionary source files (module / input / feature) --------------
# The reference's dictionary.icicle format (data/example/
# dictionary.icicle, Source/Parser/Toplevel.hs): `module X where`,
# `input NAME : TYPE` declarations and `feature NAME = QUERY` blocks
# whose pipelines separate contexts with `in`. Custom function
# definitions and out-of-grammar queries are SKIPPED with the reason
# recorded — partial loading is explicit, never silent.

def _parse_icicle_type(t: str):
    """Icicle type text -> Spark DataType (no session needed)."""
    from pyspark.sql import types as T

    scalars = {
        "Int": T.LongType(), "Double": T.DoubleType(),
        "String": T.StringType(), "Bool": T.BooleanType(),
        "Time": T.TimestampType(), "Unit": T.StringType(),
    }
    t = t.strip()
    if t.startswith("Option"):
        return _parse_icicle_type(t[len("Option"):])
    if t.startswith("Array"):
        return T.ArrayType(_parse_icicle_type(t[len("Array"):]))
    if t.startswith("(") and t.endswith(")"):
        return _parse_icicle_type(t[1:-1])
    if t.startswith("{"):
        if not t.endswith("}"):
            raise ValueError(f"unterminated record type: {t!r}")
        fields = []
        depth = 0
        cur = []
        for ch in t[1:-1]:
            if ch in "{(":
                depth += 1
            elif ch in ")}":
                depth -= 1
            if ch == "," and depth == 0:
                fields.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        fields.append("".join(cur))
        cols = []
        for f in fields:
            name, _, ft = f.partition(":")
            if not ft:
                raise ValueError(f"bad record field: {f!r}")
            cols.append(
                T.StructField(name.strip(), _parse_icicle_type(ft))
            )
        return T.StructType(cols)
    if t in scalars:
        return scalars[t]
    raise ValueError(f"unsupported input type: {t!r}")


# ------------------------------------------------- custom functions

def _top_level_in_pos(s: str) -> int:
    """Offset of the first paren-depth-0 `in` keyword in ``s`` (the
    let/in separator), or -1."""
    depth = 0
    for m in re.finditer(r"[()]|\bin\b", s):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return m.start()
    return -1


def _reduce_let_in(body: str) -> str:
    """Beta-reduce leading ``let x = e in rest`` chains in a function
    body by substitution (the reference inliner substitutes on the
    AST — Source/Transform/Inline.hs; prelude bodies like is_weekend
    are `let day = ... in ...`). Runs on MASKED text."""
    for _ in range(20):
        m = re.match(r"\s*let\s+([\w']+)\s*=\s*", body)
        if not m:
            return body.strip()
        pos = _top_level_in_pos(body[m.end():])
        if pos < 0:
            raise ValueError("`let` without `in` in function body")
        e = body[m.end(): m.end() + pos].strip()
        rest = body[m.end() + pos + 2:]
        body = re.sub(
            rf"(?<![\w']){re.escape(m.group(1))}(?![\w'])",
            lambda _m: f"({e})",
            rest,
        )
    raise ValueError("too many let bindings in function body")


def inline_functions(
    q: str,
    funcs: Mapping[str, tuple[list[str], str]],
    max_rounds: int = 12,
) -> str:
    """Textually inline custom function applications (the reference's
    UDF surface — Source/Transform/Inline.hs; the prelude IS a file of
    these): ``f a b`` with ``f p1 p2 = body`` declared becomes
    ``(body[p1:=(a), p2:=(b)])``. Application binds tightest — one
    ATOM per parameter (identifier / literal / parenthesized group).
    Runs to fixpoint so functions may call functions; the round cap
    turns recursion into a loud error (the reference checker rejects
    recursive bindings too). String literals are masked through every
    rewrite, body and call site sharing one literal space."""
    if not funcs:
        return q
    names = sorted(funcs, key=len, reverse=True)
    pat = re.compile(
        r"(?<![\w'])(" + "|".join(map(re.escape, names)) + r")(?![\w'])"
    )
    for _ in range(max_rounds):
        masked, lits = _mask_strings(q)
        out: list[str] = []
        i = 0
        changed = False
        while True:
            m = pat.search(masked, i)
            if not m:
                out.append(masked[i:])
                break
            out.append(masked[i : m.start()])
            params, body = funcs[m.group(1)]
            j = m.end()
            args: list[str] = []
            for _p in params:
                atom, j = _scan_atom(masked, j, m.group(1))
                args.append(atom)
            repl, lits = _mask_strings(body, lits)
            for p, a in zip(params, args):
                repl = re.sub(
                    rf"(?<![\w']){re.escape(p)}(?![\w'])",
                    lambda _m, _a=a: f"({_a})",
                    repl,
                )
            out.append(f"({repl})")
            changed = True
            i = j
        q = _unmask("".join(out), lits)
        if not changed:
            return q
    raise ValueError(
        "function inlining did not converge (recursive definition?)"
    )


def _grammar_bound_names() -> set[str]:
    """Names the query grammar already binds natively — when a module
    (e.g. the reference prelude, whose definitions ARE these
    aggregates) re-declares one, the engine's built-in keeps winning:
    it has the same semantics and the fast fold/Catalyst paths."""
    return (
        set(_AGGS)
        | set(_JUXTA_SQL)
        | {
            "count", "count_distinct", "distinct_values", "max_by",
            "min_by", "days_in", "circular_stats", "covariance",
            "correlation", "gradient", "intercept",
            # scan-position running fold (t06.01 declares it via :let
            # with the same fold body the builtin implements)
            "second_last",
        }
    )


def _collect_functions(blocks: list[str]) -> dict[str, tuple[list[str], str]]:
    """Custom function definitions among the top-level declarations:
    ``name p1 .. pn = body`` (its ``name : type`` signature line is
    consumed silently — the engine infers nothing from it). Bodies
    have their let/in chains beta-reduced at registration; names the
    grammar binds natively are not overridden."""
    bound = _grammar_bound_names()
    funcs: dict[str, tuple[list[str], str]] = {}
    for block in blocks:
        if block.startswith(("module ", "import ", "input ", "feature ")):
            continue
        m = re.match(
            r"([a-z_][\w']*)((?:\s+[a-z_][\w']*)*)\s*=\s*(.+)", block, re.S
        )
        if not m or m.group(1) in bound:
            continue
        name, params, body = m.group(1), m.group(2).split(), m.group(3)
        masked, lits = _mask_strings(body)
        funcs[name] = (params, _unmask(_reduce_let_in(masked), lits))
    return funcs


def _module_blocks(
    text: str, base_dir: str | None, _seen: set[str] | None = None
) -> tuple[list[str], dict[str, str]]:
    """Top-level declaration blocks with ``import X`` transitively
    flattened (the reference module system — Source/Query/Module.hs:
    a module name resolves to ``<name>.icicle`` beside the importing
    file, matched case-insensitively). Imported blocks come FIRST so
    the importing module's declarations win on name clashes; an
    import cycle or unresolvable module records a skip reason instead
    of raising (partial coverage is the caller's call, as with
    unsupported features)."""
    import os

    seen = _seen if _seen is not None else set()
    skipped: dict[str, str] = {}
    own = _top_level_blocks(text)
    out: list[str] = []
    for block in own:
        m = re.match(r"import\s+([\w.]+)", block)
        if not m:
            continue
        mod = m.group(1)
        if base_dir is None:
            skipped[mod] = "import needs a file context (base_dir)"
            continue
        want = mod.split(".")[-1].lower() + ".icicle"
        path = None
        try:
            for fn in os.listdir(base_dir):
                if fn.lower() == want:
                    path = os.path.join(base_dir, fn)
                    break
        except OSError as e:
            skipped[mod] = f"import: {e}"
            continue
        if path is None:
            skipped[mod] = f"import: no {want!r} beside the importing file"
            continue
        real = os.path.realpath(path)
        if real in seen:
            continue  # already flattened (diamond import)
        seen.add(real)
        with open(path, encoding="utf-8") as f:
            sub_blocks, sub_skipped = _module_blocks(
                f.read(), os.path.dirname(real), seen
            )
        out.extend(sub_blocks)
        skipped.update(sub_skipped)
    out.extend(own)
    return out, skipped


def _top_level_blocks(text: str) -> list[str]:
    """Group source lines into top-level declarations (a declaration
    starts in column 0; its continuation lines are indented)."""
    blocks: list[list[str]] = []
    for raw in text.splitlines():
        line = raw.split("--")[0].rstrip()
        if not line.strip():
            continue
        if raw[0].isspace() and blocks:
            blocks[-1].append(line)
        else:
            blocks.append([line])
    return [" ".join(b) for b in blocks]


def parse_dictionary_source(
    text: str,
    skip_nulls: bool = False,
    entity_col: str = "entity",
    time_col: str = "time",
    seq_col: str | None = None,
    base_dir: str | None = None,
):
    """Parse a dictionary.icicle source file into a validated
    :class:`icicle_spark.dictionary.Dictionary` plus the skipped
    declarations: ``(dictionary, skipped: {name: reason})``.

    Scalar inputs expose their value as column ``value``; record
    inputs expose one column per field. `in`-separated feature
    pipelines are the reference surface syntax for `~>`. Custom
    function definitions and queries outside the supported grammar
    are skipped with the raising reason — call sites decide whether
    partial coverage is acceptable. ``base_dir`` resolves ``import
    Module`` declarations to sibling ``module.icicle`` files
    (use :func:`parse_dictionary_file` for the common case).
    Redefinitions of grammar-bound names (the reference prelude
    re-declares ``newest``/``not``/... as source functions —
    data/libs/prelude.icicle) are consumed silently: the engine's
    built-ins ARE those functions."""
    from icicle_spark.dictionary import (
        Dictionary,
        DictionaryInput,
        DictionaryOutput,
    )

    inputs: list = []
    outputs: list = []
    feature_inputs: set[str] = set()
    blocks, skipped = _module_blocks(text, base_dir)
    # pass 1: custom function definitions (declaration order is not
    # significant in the reference module system)
    funcs = _collect_functions(blocks)
    for block in blocks:
        if block.startswith(("module ", "import ")):
            continue
        m = re.match(r"input\s+(\w+)\s*:\s*(.+)", block, re.S)
        if m:
            name, t = m.group(1), m.group(2)
            from pyspark.sql import types as T

            try:
                dt = _parse_icicle_type(t)
            except ValueError as e:
                skipped[name] = str(e)
                continue
            fields = [
                T.StructField(entity_col, T.StringType()),
                T.StructField(time_col, T.TimestampType()),
            ]
            if seq_col:
                fields.append(T.StructField(seq_col, T.LongType()))
            if isinstance(dt, T.StructType):
                fields.extend(dt.fields)
            else:
                fields.append(T.StructField("value", dt))
            inputs.append(
                DictionaryInput(
                    name, T.StructType(fields),
                    entity_col=entity_col, time_col=time_col,
                    seq_col=seq_col,
                )
            )
            continue
        m = re.match(r"feature\s+(\w+)\s*=\s*(.+)", block, re.S)
        if m:
            name, q = m.group(1), m.group(2)
            try:
                # custom functions inline BEFORE the pipeline split
                # (reference ordering: Transform/Inline.hs runs ahead
                # of the checker) — a body may carry its own `in`-free
                # expression text into any pipeline stage
                q = inline_functions(q, funcs)
            except ValueError as e:
                skipped[name] = str(e)
                continue
            # mask string literals so an `in` INSIDE a literal never
            # becomes a pipeline separator (review finding)
            q, _lits = _mask_strings(q)
            q = _unmask(re.sub(r"\bin\b", "~>", q), _lits)
            try:
                qinput, feats, posts, hidden = (
                    parse_query_multi(q, name, skip_nulls)
                )
                outputs.append(
                    DictionaryOutput(
                        name, qinput, features=tuple(feats),
                        postcomps=tuple(posts), hidden=tuple(hidden),
                    )
                )
                feature_inputs.add(qinput)
            except ValueError as e:
                skipped[name] = str(e)
            continue
        word = block.split()[0].rstrip(":")
        if word in funcs or re.match(r"[a-z_][\w']*\s*:", block):
            # a registered function definition, or its type signature
            # (consumed silently — the engine infers nothing from it)
            continue
        if word in _grammar_bound_names() and re.match(
            r"[a-z_][\w']*(?:\s+[a-z_][\w']*)*\s*=", block
        ):
            # the prelude re-declares built-ins as source functions
            # (newest/oldest/not/mean/... — data/libs/prelude.icicle);
            # the engine's native implementations ARE these, so the
            # redefinition is consumed, not an unsupported skip
            continue
        skipped.setdefault(
            word, f"unsupported toplevel declaration: {block[:60]!r}"
        )
    declared = {i.name for i in inputs}
    missing = feature_inputs - declared
    if missing:
        raise ValueError(f"features read undeclared inputs: {sorted(missing)}")
    return Dictionary(inputs=inputs, outputs=outputs), skipped


def collect_module_functions(
    text: str, base_dir: str | None = None
) -> dict[str, tuple[list[str], str]]:
    """The custom function definitions a module (and its imports)
    declares — the environment the reference repl binds for typed
    queries after ``:load dictionary.icicle``."""
    blocks, _skipped = _module_blocks(text, base_dir)
    return _collect_functions(blocks)


def parse_dictionary_file(
    path: str,
    skip_nulls: bool = False,
    entity_col: str = "entity",
    time_col: str = "time",
    seq_col: str | None = None,
):
    """:func:`parse_dictionary_source` over a file, with ``import``
    declarations resolved beside it."""
    import os

    with open(path, encoding="utf-8") as f:
        return parse_dictionary_source(
            f.read(), skip_nulls=skip_nulls,
            entity_col=entity_col, time_col=time_col, seq_col=seq_col,
            base_dir=os.path.dirname(os.path.abspath(path)),
        )
