"""Backend-differential fuzz: the SAME pipeline through document mode
(HOF Columns over one LocalRelation row) and relational mode (DataFrame
stages) must produce the same multiset of results.

This mirrors the reference's backend-differential tests (bytes-backed
tape vs tree-walker must agree, jc/tests/deep_search.rs:10-29) — here
the two backends are the two compilers sharing one language.

Comparison is order-insensitive (multiset): relational mode only owes an
order where a stage defines one, and order-defining stages (sort, take,
first/last/nth) already constrain WHICH values appear, so multiset
equality is exact for them too. Sort keys are tie-free by construction
(distinct k and v), making every pipeline deterministic in both modes.
"""

from __future__ import annotations

import json

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

from jetro_spark.jql.engine import Jetro, JetroTables

pytestmark = pytest.mark.skipif(not HAVE_HYPOTHESIS,
                                reason="hypothesis not installed")

ROWS = [{"k": i, "v": float((i * 37) % 101), "g": f"g{i % 3}"}
        for i in range(17)]
# overlaps rows 0-4 of s plus one alien row — exercises every branch of
# the set-op stages (present/absent/extra on the other side)
ROWS_U = ROWS[:5] + [{"k": 99, "v": 7.5, "g": "g9"}]
# DUPLICATE keys (two rows per key, right-array order doc-observable
# through joins — the r10 advice class) and PRESENT-null keys (the
# val_to_key "null" bucket: null joins null, r11 advice class). v
# values stay globally distinct so .sort(v) is still tie-free; .sort(k)
# over unions with d has ties and nulls ON PURPOSE — the stable-sort
# doc-order tie-break and the null placement are both doc-observable.
ROWS_D = [
    {"k": 0, "v": 201.0, "g": "g1"}, {"k": 0, "v": 202.0, "g": "g2"},
    {"k": 3, "v": 203.0, "g": "g0"}, {"k": 3, "v": 204.0, "g": "g1"},
    {"k": None, "v": 205.0, "g": "gN"},
    {"k": None, "v": 206.0, "g": "gN"},
    {"k": 7, "v": 207.0, "g": "g7"},
]
# STRING-keyed table (r12 advice class): val_to_key renders a
# present-null key as the string "null", which COLLIDES with a literal
# "null" string key — relational eqNullSafe kept them distinct. Keys
# overlap the g values (so `.map({k: g, ...}).equi_join($.n, ...)`
# matches) and include both the literal "null" and a present-NULL.
ROWS_N = [
    {"k": "g0", "v": 301.0, "g": "ga"}, {"k": "g1", "v": 302.0, "g": "gb"},
    {"k": "null", "v": 303.0, "g": "gc"},
    {"k": None, "v": 304.0, "g": "gd"},
    {"k": "gN", "v": 305.0, "g": "ge"},
]
DOC = {"s": ROWS, "u": ROWS_U, "d": ROWS_D, "n": ROWS_N}

# stages legal mid-pipeline on rows/scalars in BOTH modes; every
# pipeline starts with sort(k) so both modes walk the same sequence
_MID = st.sampled_from([
    ".filter(v > 40)", ".filter(k != 3)", ".map({k: k, v: v})",
    ".sort(v)", ".sort(-v)", ".sort(k)", ".take(9)", ".skip(4)",
    ".reverse()", ".take(12)", ".skip(1)",
    # lambda-bound predicate/key forms must lower like their bare twins
    ".filter(x => x.v > 40)", ".sort(x => -x.v)", ".compact()",
    # order-dependent prefix stages (relational: running-sum window)
    ".take_while(x => x.k < 11)", ".drop_while(x => x.k < 5)",
    ".enumerate().map(value)",
    # array-set stages against a second table (r7 rewrite: null-safe
    # anti/semi joins + first-seen dedup; r8: ordered union lowers too —
    # receiver-first tagged union, no doc fallback)
    ".diff($.u)", ".intersect($.u)", ".union($.u)",
    # r8: lambda-param map (caught the _select_carry env clobber — the
    # bound param compiled to missing-field null under a live sort) and
    # patch stages (now lowered relationally via row-struct materialize)
    ".map(x => {k: x.k, v: x.v})",
    # r9: order-DESTROYING mid-stage (advice catch — min_by/max_by and
    # the stable-sort tie-break minted scan-order surrogates after a
    # join, numbering shuffle-arbitrary rows; equi_join now carries the
    # receiver's order through the join instead). Same columns both
    # sides, right-wins merge; combined with the tie-making patch
    # stages below this makes post-join tie-breaks observable.
    '.equi_join($.u, "k", "k")',
    # r10: two-join pipelines and an ORDERED sub-pipeline right arg —
    # the right-array order is now a doc-observable tie-break when a
    # receiver row has multiple right matches (advice catch), and the
    # surrogate must come from the right table's own materialized order
    '.equi_join($.u, "k", "k").equi_join($.u, "k", "k")',
    '.equi_join($.u.sort(-v), "k", "k")',
    # r10: ordered union whose OTHER side is an order-destroying
    # sub-pipeline — the append-order monotonic tag must refuse and
    # doc-fallback (same gate as equi_join's right side)
    '.union($.u.equi_join($.u, "k", "k"))',
    # r11 (permanent vocab per the r10 verdict): DUPLICATE-key right
    # tables — every receiver row fans out to its matches in
    # right-array order — plus PRESENT-null keys matching under the
    # val_to_key "null" bucket (union($.d) feeds null/duplicate keys
    # into the receiver side too)
    '.equi_join($.d, "k", "k")',
    '.equi_join($.d.sort(v), "k", "k")',
    '.union($.d)',
    '.equi_join($.d, "k", "k").equi_join($.u, "k", "k")',
    # r12 (advice): STRING join keys through the val_to_key "null"
    # bucket — g-keyed receiver rows join the string-keyed table; the
    # patch-DELETE variant nulls the receiver key so every row lands in
    # the "null" bucket, matching BOTH the literal-"null" and the
    # present-NULL right rows
    '.map({k: g, v: v}).equi_join($.n, "k", "k")',
    '.map(patch @ {g: DELETE}).map({k: g, v: v})'
    '.equi_join($.n, "k", "k")',
    # r12 vocab (verdict item 6): two equi_joins with CONFLICTING
    # carried orders — each join must rematerialize ITS current order
    # before the right-wins merge rebinds the sort columns
    '.sort(-v).equi_join($.d, "k", "k").sort(v)'
    '.equi_join($.u, "k", "k")',
    # r13 (verdict item 5): THREE-join chains — the r12 two-join cell
    # was the coverage edge; duplicate-key then overlap-key then
    # overlap-key again compounds fan-out with order carriage
    '.equi_join($.d, "k", "k").equi_join($.u, "k", "k")'
    '.equi_join($.u, "k", "k")',
    # descending sort over the (nullable after union($.d)) key: null
    # placement is doc-observable through reverse/positional tails
    ".sort(-k)",
    # r9 ordered-collect lowerings as MID stages: implode collapses
    # rows sharing the other fields into a pipeline-ordered array and
    # explode undoes it — a shape round-trip that must keep sequence
    # and element fidelity in both modes
    ".map({g: g, v: v}).implode(v)",
    ".map({g: g, v: v}).implode(v).explode(v)",
    ".map(patch @ {v: @ * 2.0})",
    ".map(patch @ {g: DELETE})",
    ".map(patch @ {v: 0.0 when @.v > 40.0})",
    ".map(patch @ {w: 7.5})",
    # r14 (verdict item 5): patch/chain-writes composed OVER
    # union-carrying pipelines and window-guarded positional picks —
    # the union stage sets Query.has_union, so the take/skip in these cells
    # lower through the row_number window guard, and the patch then
    # rebinds fields on the union-widened (nullable-k / padded-field)
    # rows; the two lowering families had never met in one pipeline
    '.union($.d).map(patch @ {v: @ * 2.0})',
    '.union($.d).take(9).map(patch @ {g: DELETE})',
    '.union($.u).map(patch @ {w: 7.5}).skip(3)',
    '.map(patch @ {w: 7.5}).union($.u).sort(v).take(5)',
    '.union($.d).map(patch @ {v: 0.0 when @.v > 100.0}).skip(2)',
])
_SCALAR_MID = st.sampled_from([
    ".map(v)", ".map(v).accumulate((a, x) => a + x)", ".map(k)",
    # explicit inits exercise accumulator typing: integral init over
    # integral terms must stay long in BOTH modes (ADVICE r04), mixed
    # init/term must fold in double in both
    ".map(k).accumulate((a, x) => a + x, 0)",
    ".map(v).accumulate((a, x) => a + x, 100)",
    # window builtins exist in both modes; v is integral-valued so every
    # sum/avg/diff is float-exact and mode-comparable
    ".map(v).rolling_sum(3)", ".map(v).rolling_avg(4)",
    ".map(v).cummax()", ".map(v).lag(1)", ".map(v).diff_window()",
    # array-shaping stages (relational: lag window / bounded collect)
    ".map(v).pairwise()", ".map(v).chunk(4)", ".map(v).window(3)",
    ".map(v).compact()",
    # scalar dedup + value-removal (keep-first-seen order semantics)
    ".map(g).unique()", ".map(v).remove(74.0)",
    # r12 (advice): BARE ascending sort over a (nullable after
    # union($.d)) scalar — null elements place FIRST in both modes
    # (the old doc-mode array_sort fast path pinned them LAST)
    ".map(k).sort()", ".map(k).sort().reverse()",
    # r12 (soak catch follow-up): CROSS-FAMILY scalar set ops key
    # members by val_to_key — string g values vs long k / string g
    # sub-pipelines; union's heterogeneous output widens to variant
    ".map(g).diff($.u.map(x => x.k))",
    ".map(g).intersect($.u.map(x => x.k))",
    ".map(g).union($.u.map(x => x.k))",
    ".map(g).diff($.n.map(x => x.k))",
    # r13 (ADVICE item 3 + verdict item 5): SAME-family string set ops
    # through the val_to_key "null" bucket — $.n.k carries both a
    # present-NULL and the literal "null"; the patch-DELETE receiver
    # keys every element "null"
    ".map(g).union($.n.map(x => x.k))",
    ".map(g).intersect($.n.map(x => x.k))",
    ".map(patch @ {g: DELETE}).map(g).union($.n.map(x => x.k))",
    ".map(patch @ {g: DELETE}).map(g).diff($.n.map(x => x.k))",
    ".map(patch @ {g: DELETE}).map(g).unique()",
    ".map(g).remove(\"g1\")",
    # r13 (verdict item 5): post-union VARIANT elements flowing into
    # downstream val_to_key consumers (unique / set ops) — the r12
    # widen created this value family but nothing consumed it
    ".map(g).union($.u.map(x => x.k)).unique()",
    ".map(g).union($.u.map(x => x.k)).diff($.n.map(x => x.k))",
    # r8: expression-level deep search in the relational projection
    # (plan-time schema walk over a constructed object)
    ".map(x => let d = {a: {t: x.v}, b: {t: 1.0}} in d..t.sum())",
    ".map(x => let d = {a: {t: x.v}, b: {u: 2}} in d..find(@.t != null)"
    ".len())",
])

# keyed-reducer sinks: doc mode returns an ordered object / winner row,
# relational mode returns (key, value) rows — normalized before compare.
# r9 adds group_by/index_by: their per-key SEQUENCES / last-wins
# winners read pipeline order, which the relational lowerings now
# realize via sorted collects over a doc-order surrogate.
_KEYED_SINK = st.sampled_from([
    ".count_by(g)", ".min_by(v)", ".max_by(v)", ".unique_by(g)",
    # r11: extremes keyed on k — NULLABLE after union($.d) — probe the
    # strict-improvement fold's null-key skip / first-element-null win
    ".min_by(k)", ".max_by(k)",
    ".group_by(g)", ".index_by(g)",
    # r10: the remaining keyed reducers, plus keyed-reducer NAVIGATION —
    # doc keyed results are insertion-ordered IndexMaps, so .keys()
    # reads the first-seen KEY order (now restored relationally via a
    # min(doc-order) emit, like implode's group order), and pivot with
    # a tail collapses to doc mode (its one-object output has no
    # row-shaped navigation)
    ".pivot(g, v)", ".group_shape(x => x.g, a => a.map(v))",
    # r12 vocab (verdict item 6): a SORT inside the shape lambda — the
    # per-group array must carry the group's pipeline order into the
    # lambda so the keyed re-sort is deterministic in both modes
    ".group_shape(x => x.g, a => a.sort(x => -x.v).map(x => x.v))",
    ".count_by(g).keys()", ".group_by(g).keys()", ".index_by(g).keys()",
    '.count_by(g)["g1"]', ".pivot(g, v).keys()",
])
_SINK = st.sampled_from([
    "", ".count()", ".first()", ".last()", ".last(3)", ".nth(2)", ".sum()",
    ".min()", ".max()", ".find_index(x => x > 40)", ".includes(74.0)",
    # total equality probes (r7): cross-kind probes are misses, not
    # CompileErrors, in BOTH modes
    ".index_of(74.0)", ".includes({q: 1})",
    # r13: the val_to_key "null" bucket as a membership probe — matches
    # NULL cells (post-union($.d) keys, patch-DELETEd fields) in both
    # modes via canonical keys
    '.includes("null")',
    # r13: find_first's no-match case is the scalar Null (filter +
    # First lowering) — the relational pad row must map back to None
    ".find_first(x => x > 40)", ".find_first(x => x > 4000)",
])


def _norm(x):
    """Result → canonical multiset (sorted json reprs)."""
    if not isinstance(x, list):
        x = [x]
    return sorted(json.dumps(e, sort_keys=True, default=float) for e in x)


def _assert_same_multiset(doc_out, rel_out, expr):
    """Multiset compare with the single-field-object fallback: the
    relational result unwraps 1-column rows (it cannot distinguish a
    one-field OBJECT pipeline — e.g. after patch DELETEd every other
    field — from a scalar pipeline), so when the plain compare fails
    and every doc element is a single-field dict, compare the field
    VALUES instead."""
    if _norm(doc_out) == _norm(rel_out):
        return
    if (isinstance(doc_out, list) and doc_out
            and all(isinstance(e, dict) and len(e) == 1 for e in doc_out)):
        unwrapped = [next(iter(e.values())) for e in doc_out]
        assert _norm(unwrapped) == _norm(rel_out), (
            f"mode divergence for {expr!r}:\n doc={doc_out}\n rel={rel_out}")
        return
    assert _norm(doc_out) == _norm(rel_out), (
        f"mode divergence for {expr!r}:\n doc={doc_out}\n rel={rel_out}")


def _canon_cell(v):
    """Nested Row/list cells (the doc-fallback's single `value` column
    can hold a struct or an objrepr array) → plain dicts/lists.
    VariantVal cells (r12: cross-family union fields widen to variant)
    convert via toPython, like engine.to_python does for doc mode."""
    from pyspark.sql import Row
    from pyspark.sql.types import VariantVal
    if isinstance(v, VariantVal):
        return _canon_cell(v.toPython())
    if isinstance(v, Row):
        return {k: _canon_cell(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_canon_cell(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon_cell(x) for k, x in v.items()}
    return v


def _rel_result(out_df):
    rows = out_df.collect()
    cols = out_df.columns
    vis = [c for c in cols if not c.startswith("__ord")]
    out = []
    for r in rows:
        d = {c: _canon_cell(r[c]) for c in vis}
        if len(vis) == 1:
            out.append(d[vis[0]])
        elif d and all(v is None for v in d.values()):
            # relational repr of the scalar-Null result (first/last/nth
            # on an empty pipeline): a DataFrame cannot hold a null ROW,
            # so it appears as an all-null row (engine._pad_single_null).
            # A row with no visible columns is the empty object {}.
            out.append(None)
        else:
            out.append(d)
    return out


import os as _os

_N_DIFF = int(_os.environ.get("JETRO_FUZZ_EXAMPLES", "60"))


@settings(max_examples=_N_DIFF, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_MID, max_size=3), st.lists(_SCALAR_MID, max_size=1),
       _SINK)
def test_doc_and_relational_agree(spark, mids, scalars, sink):
    expr_tail = ".sort(k)" + "".join(mids) + "".join(scalars) + sink
    # numeric sinks need a scalar pipeline in both modes
    if sink in (".sum()", ".min()", ".max()") and not scalars:
        expr_tail += ""  # sum over rows is object-sum → skip via guard below
        return
    from jetro_spark.jql.compiler import CompileError

    expr = "$.s" + expr_tail
    jt = Jetro.from_value(spark, DOC)
    doc_err = rel_err = False
    doc_out = rel_out = None
    try:
        doc_out = jt.collect(expr)
    except CompileError:
        doc_err = True
    try:
        rel_out = _rel_result(
            JetroTables(spark, {"s": _table(spark), "u": _table_u(spark),
                                "d": _table_d(spark), "n": _table_n(spark)}).query(expr))
    except CompileError:
        rel_err = True
    # an ill-typed combination (e.g. .pairwise().sum() — summing arrays)
    # must error CONTROLLED in both modes; one-sided errors are
    # divergences
    assert doc_err == rel_err, (
        f"one-sided error for {expr!r}: doc_err={doc_err} rel_err={rel_err}")
    if doc_err:
        return
    # single-value sinks return the bare value in doc mode — wrap it so
    # an array-valued result (a pairwise pair, a chunk, an array min)
    # isn't mistaken for a result LIST
    if sink in (".first()", ".last()", ".nth(2)", ".min()", ".max()",
                ".sum()", ".count()", ".find_index(x => x > 40)",
                ".includes(74.0)", ".index_of(74.0)", ".includes({q: 1})"):
        doc_out = [doc_out]
    _assert_same_multiset(doc_out, rel_out, expr)


def _table(spark):
    return spark.createDataFrame(
        [(r["k"], r["v"], r["g"]) for r in ROWS], "k long, v double, g string")


def _table_u(spark):
    return spark.createDataFrame(
        [(r["k"], r["v"], r["g"]) for r in ROWS_U],
        "k long, v double, g string")


def _table_d(spark):
    return spark.createDataFrame(
        [(r["k"], r["v"], r["g"]) for r in ROWS_D],
        "k long, v double, g string")


def _table_n(spark):
    return spark.createDataFrame(
        [(r["k"], r["v"], r["g"]) for r in ROWS_N],
        "k string, v double, g string")


@settings(max_examples=max(_N_DIFF // 2, 25), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_MID, max_size=2), _KEYED_SINK)
def test_keyed_reducers_agree(spark, mids, sink):
    from jetro_spark.jql.compiler import CompileError

    expr = "$.s.sort(k)" + "".join(mids) + sink
    jt = Jetro.from_value(spark, DOC)
    # ill-typed combinations (e.g. implode(v).union($.u) — array vs
    # double field) must error CONTROLLED in both modes, like the main
    # differential test treats them
    doc_err = rel_err = False
    doc_out = rel_out = None
    try:
        doc_out = jt.collect(expr)
    except CompileError:
        doc_err = True
    try:
        rel_out = _rel_result(JetroTables(
            spark, {"s": _table(spark), "u": _table_u(spark),
                 "d": _table_d(spark), "n": _table_n(spark)}).query(expr))
    except CompileError:
        rel_err = True
    assert doc_err == rel_err, (
        f"one-sided error for {expr!r}: doc_err={doc_err} rel_err={rel_err}")
    if doc_err:
        return

    if ".keys()" in sink or sink.endswith('["g1"]'):
        # keyed-reducer NAVIGATION (r10): key ORDER is the IndexMap's
        # first-seen order, doc-observable — exact sequence compare
        doc_cmp = doc_out if isinstance(doc_out, list) else [doc_out]
        rel_cmp = rel_out if isinstance(rel_out, list) else [rel_out]
        if len(rel_cmp) == 1 and isinstance(rel_cmp[0], list):
            rel_cmp = rel_cmp[0]   # one collected array cell
        assert doc_cmp == rel_cmp, expr
    elif sink.startswith(".pivot"):
        # doc: {key: last-wins value} object; rel: ONE map cell (or an
        # objrepr cell on a doc fallback) — multiset of entries
        def _j(v):
            return json.dumps(v, sort_keys=True, default=float)
        doc_cmp = sorted((k, _j(v)) for k, v in doc_out.items()) \
            if isinstance(doc_out, dict) else []
        cell = rel_out[0] if rel_out else {}
        if isinstance(cell, list):   # objrepr fallback cell
            rel_cmp = sorted((e["key"], _j(e["value"])) for e in cell)
        else:
            rel_cmp = sorted((k, _j(v)) for k, v in dict(cell).items())
        assert doc_cmp == rel_cmp, expr
    elif sink.startswith(".count_by"):
        # doc: ordered {key: n} object ([] when the pipeline is empty);
        # rel: rows of {key, value}, or ONE objrepr cell when a stage
        # (e.g. ordered union) doc-fell-back
        doc_cmp = sorted(doc_out.items()) if isinstance(doc_out, dict) \
            else []
        if len(rel_out) == 1 and isinstance(rel_out[0], list):
            rel_cmp = sorted((e["key"], e["value"]) for e in rel_out[0])
        else:
            rel_cmp = sorted((r["key"], r["value"]) for r in rel_out)
        assert doc_cmp == rel_cmp, expr
    elif sink.startswith((".min_by", ".max_by")):
        doc_cmp = _norm([doc_out] if isinstance(doc_out, dict) else doc_out)
        rel_cmp = _norm(rel_out)
        if (doc_cmp != rel_cmp and isinstance(doc_out, dict)
                and len(doc_out) == 1):
            # a SINGLE-FIELD winner object (e.g. after patch DELETEd
            # every other column): _rel_result cannot distinguish a
            # 1-column object row from a scalar pipeline and unwraps
            # the bare value — compare against the field value then
            doc_cmp = _norm([next(iter(doc_out.values()))])
        assert doc_cmp == rel_cmp, expr
    elif sink.startswith((".group_by", ".index_by", ".group_shape")):
        # doc: ordered {key: group-array / winner-row}; rel: rows of
        # {key, value} (or ONE objrepr cell on a doc fallback). Key
        # ORDER is not owed (same as count_by), but each group's
        # SEQUENCE / each last-wins winner must match exactly — the r9
        # ordered-collect contract.
        def _j(v):
            return json.dumps(v, sort_keys=True, default=float)
        doc_cmp = sorted((k, _j(v)) for k, v in doc_out.items()) \
            if isinstance(doc_out, dict) else []
        if len(rel_out) == 1 and isinstance(rel_out[0], list):
            rel_cmp = sorted((e["key"], _j(e["value"])) for e in rel_out[0])
        else:
            rel_cmp = sorted((r["key"], _j(r["value"])) for r in rel_out)
        assert doc_cmp == rel_cmp, expr
    else:  # unique_by: same element multiset (first-wins keeps by g)
        _assert_same_multiset(doc_out, rel_out, expr)


@settings(max_examples=max(_N_DIFF // 2, 25), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_MID, max_size=3), st.lists(_SCALAR_MID, max_size=1),
       _SINK)
def test_unsorted_pipelines_agree(spark, mids, scalars, sink):
    """r8 scan-order surrogate: pipelines with NO leading .sort(k) — the
    document order is the SCAN order, which order-dependent stages
    (reverse/take_while/pairwise/enumerate/window stages/unique...) now
    lower from via a monotonic-id surrogate instead of collapsing to the
    doc fallback. Both modes must still walk the same sequence; stages
    that invalidate the scan order (joins, unordered set ops, keyed
    groups) flip the surrogate off and fall back exactly as before."""
    from jetro_spark.jql.compiler import CompileError

    expr = "$.s" + "".join(mids) + "".join(scalars) + sink
    jt = Jetro.from_value(spark, DOC)
    doc_err = rel_err = False
    doc_out = rel_out = None
    try:
        doc_out = jt.collect(expr)
    except CompileError:
        doc_err = True
    try:
        rel_out = _rel_result(
            JetroTables(spark, {"s": _table(spark), "u": _table_u(spark),
                                "d": _table_d(spark), "n": _table_n(spark)}).query(expr))
    except CompileError:
        rel_err = True
    assert doc_err == rel_err, (
        f"one-sided error for {expr!r}: doc_err={doc_err} rel_err={rel_err}")
    if doc_err:
        return
    if sink in (".first()", ".last()", ".nth(2)", ".min()", ".max()",
                ".sum()", ".count()", ".find_index(x => x > 40)",
                ".includes(74.0)", ".index_of(74.0)", ".includes({q: 1})"):
        doc_out = [doc_out]
    _assert_same_multiset(doc_out, rel_out, expr)


# body sinks that READ the binding's document order — the r10 binding
# class: the body sees the binding as a table, and these force the
# binding to have materialized (or honestly disclaim) its doc order
_LET_SINK = st.sampled_from([
    ".first()", ".last()", ".take(3)", ".nth(2)", ".reverse()",
    ".count()", ".keys()", ".map(k)", "[1]", "[0:2]",
    # keyed reducers IN THE BODY over the bound table: the binding's
    # trusted scan order feeds their first-seen/last-wins semantics
    ".count_by(g).keys()", ".group_by(g).keys()", ".unique_by(g).map(g)",
    # r12 vocab (verdict item 6): PATCH bodies over the let-bound
    # table — the patch stage must keep (or honestly disclaim) the
    # binding's carried order through the row-struct materialize
    ".map(patch @ {v: @ * 2.0}).first()",
    ".map(patch @ {g: DELETE}).take(3)",
])


@settings(max_examples=max(_N_DIFF // 2, 25), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_MID, max_size=2), _LET_SINK)
def test_let_bound_pipelines_agree(spark, mids, sink):
    """r10: `let a = <pipeline> in a<sink>` — the binding becomes a
    TABLE in the body, so its scan order must BE its document order
    (demand_order materializes it for keyed reducers / joins / ordered
    union) or the positional body stages must take the warned fallback.
    Exact-order comparison for the order-reading sinks."""
    import warnings as W

    from jetro_spark.jql.compiler import CompileError

    expr = "let a = $.s.sort(k)" + "".join(mids) + " in a" + sink
    jt = Jetro.from_value(spark, DOC)
    doc_err = rel_err = False
    doc_out = rel_out = None
    try:
        doc_out = jt.collect(expr)
    except CompileError:
        doc_err = True
    try:
        with W.catch_warnings():
            W.simplefilter("ignore")
            rel_out = _rel_result(JetroTables(
                spark, {"s": _table(spark), "u": _table_u(spark),
                 "d": _table_d(spark), "n": _table_n(spark)})
                .query(expr))
    except CompileError:
        rel_err = True
    assert doc_err == rel_err, (
        f"one-sided error for {expr!r}: doc_err={doc_err} rel_err={rel_err}")
    if doc_err:
        return
    if not isinstance(doc_out, list):
        doc_out = [doc_out]
    # EXACT order: every _LET_SINK reads the binding's doc order (or is
    # a scalar count) — json-normalize both sides, order-sensitive
    def _j(v):
        return json.dumps(v, sort_keys=True, default=float)
    doc_cmp = [_j(e) for e in doc_out]
    rel_cmp = [_j(e) for e in rel_out]
    if doc_cmp != rel_cmp and all(
            isinstance(e, dict) and len(e) == 1 for e in doc_out):
        # 1-column rows unwrap (the single-field-object ambiguity)
        doc_cmp = [_j(next(iter(e.values()))) for e in doc_out]
    if doc_cmp != rel_cmp and all(
            isinstance(e, dict) and set(e) == {"key", "value"}
            for e in doc_out) and isinstance(rel_out, list):
        # keyed OBJECT result rendered as objrepr rows on one side only
        rel_cmp = [_j(e) for e in rel_out]
    assert doc_cmp == rel_cmp, (
        f"order divergence for {expr!r}:\n doc={doc_out}\n rel={rel_out}")


# r11 (permanent vocab per the r10 verdict): LET-BOUND TABLES AS
# SOURCES — the binding feeds a comprehension generator, an equi_join
# table arg, or a nested outer binding; each consumer reads the
# binding's doc order (or its honest disclaim) through a different
# code path (_comp, _resolve_table, _let — each reads it via _source)
_LET_BODY = st.sampled_from([
    "[x.k for x in a]{s}",
    "[x.v for x in a if x.v > 40]{s}",
    "{{x.g for x in a}}{s}",
    '$.u.equi_join(a, "k", "k"){s}',
    'a.equi_join($.d, "k", "k"){s}',
    "a{s}",
])
_LET_SRC_SINK = st.sampled_from([
    ".first()", ".last()", ".take(3)", ".nth(2)", ".count()",
    ".reverse()", "",
])


@settings(max_examples=max(_N_DIFF // 2, 25), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_MID, max_size=2), _LET_BODY, _LET_SRC_SINK,
       st.booleans())
def test_let_bound_sources_agree(spark, mids, body, sink, nested):
    """r11: let-bound sub-plans consumed as SOURCES — comprehension
    generators, join table args, bare-table bodies — under positional
    sinks, with the binding optionally NESTED (`let a = (let b = 1 in
    ...) in ...`, the demand_order threading the r11 advice found
    dropped). Exact-order comparison for order-reading sinks."""
    import warnings as W

    from jetro_spark.jql.compiler import CompileError

    bind = "$.s.sort(k)" + "".join(mids)
    if nested:
        bind = f"(let b = 1 in {bind})"
    expr = f"let a = {bind} in " + body.format(s=sink)
    jt = Jetro.from_value(spark, DOC)
    doc_err = rel_err = False
    doc_out = rel_out = None
    try:
        doc_out = jt.collect(expr)
    except CompileError:
        doc_err = True
    try:
        with W.catch_warnings():
            W.simplefilter("ignore")
            rel_out = _rel_result(JetroTables(
                spark, {"s": _table(spark), "u": _table_u(spark),
                        "d": _table_d(spark), "n": _table_n(spark)}).query(expr))
    except CompileError:
        rel_err = True
    assert doc_err == rel_err, (
        f"one-sided error for {expr!r}: doc_err={doc_err} rel_err={rel_err}")
    if doc_err:
        return
    if not isinstance(doc_out, list):
        doc_out = [doc_out]

    def _j(v):
        return json.dumps(v, sort_keys=True, default=float)

    if sink in ("", ".count()"):
        # the relational contract owes NO order on a final result
        # (multiset compare) — order-blind tails deliberately skip the
        # restore sorts (the r9 bench fix), so a bare-sink body is
        # compared as a multiset like the main differential test
        _assert_same_multiset(doc_out, rel_out, expr)
        return
    doc_cmp = [_j(e) for e in doc_out]
    rel_cmp = [_j(e) for e in rel_out]
    if doc_cmp != rel_cmp and all(
            isinstance(e, dict) and len(e) == 1 for e in doc_out):
        doc_cmp = [_j(next(iter(e.values()))) for e in doc_out]
    assert doc_cmp == rel_cmp, (
        f"order divergence for {expr!r}:\n doc={doc_out}\n rel={rel_out}")


@pytest.mark.parametrize("expr,want", [
    ("$.s.map(x).filter(x > 2)", []),
    ("$.s.map(x).map(x)", [None] * 4),
    ("$.s.map(x).filter(@ > 2)", [3.0, 4.0]),
    ("let t = 2 in $.s.map(x).filter(@ > t)", [3.0, 4.0]),
    ("$.s.map(x).map({y: x, z: @})",
     [{"y": None, "z": float(i)} for i in range(1, 5)]),
])
def test_scalar_pipeline_bare_name_is_a_field_of_the_element(
        spark, expr, want):
    """In a scalar pipeline a bare name is a field access on the element
    (null on a number), as in document mode — not the frame column that
    holds the elements, which has the name the map read. `@` and
    let-bound names still resolve."""
    doc = {"s": [{"x": float(i)} for i in range(1, 5)]}
    df = spark.createDataFrame([(float(i),) for i in range(1, 5)],
                               "x double")
    doc_out = Jetro.from_value(spark, doc).collect(expr)
    assert doc_out == want
    rel_out = _rel_result(JetroTables(spark, {"s": df}).query(expr))
    assert _norm(rel_out) == _norm(want), (expr, rel_out)
