"""Relational lowerings for pipeline-position stages (logical stages
Last/Nth/Reverse/TakeWhile/DropWhile/FlatMap, jc/ir/logical.rs:16-57).

Every case runs with warnings-as-errors: hitting the single-task
``_doc_fallback`` raises, so these prove the lowering is native.
"""

from __future__ import annotations

import warnings

import pytest

from jetro_spark.jql.engine import Jetro, JetroTables


@pytest.fixture(scope="module")
def seq_tables(spark):
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2])],
        "k int, v double")
    return {"s": df}


def rel(spark, seq_tables, expr):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = JetroTables(spark, seq_tables).query(expr)
        return [tuple(r) for r in out.collect()], out.columns


@pytest.mark.parametrize("expr,want,cols", [
    ("$.s.sort(k).map({k: k, v: v}).last()", [(6, 2.0)], ["k", "v"]),
    # last(n>=2) = the tail slice in ORIGINAL order (a[s..],
    # collection.rs:358-369) — the r11 fix; the old pin expected the
    # inverted-limit artifact (reversed rows)
    ("$.s.sort(k).last(2)", [(5, 9.0), (6, 2.0)], ["k", "v"]),
    ("$.s.sort(k).map(v).nth(2)", [(4.0,)], ["v"]),
    ("$.s.sort(k).map(v).nth(-2)", [(9.0,)], ["v"]),
    ("$.s.sort(k).reverse().map(v).first()", [(2.0,)], ["v"]),
    ("$.s.sort(k).reverse().map(v).nth(1)", [(9.0,)], ["v"]),
    ("$.s.sort(k).take_while(v < 5).map(v)",
     [(3.0,), (1.0,), (4.0,), (1.0,)], ["v"]),
    ("$.s.sort(k).drop_while(v < 5).map(v)", [(5.0,), (9.0,), (2.0,)], ["v"]),
    ("$.s.sort(k).take_while(x => x.v < 5).count()", [(4,)], ["value"]),
    ("$.s.flat_map([k, k + 100]).count()", [(14,)], ["value"]),
    # a window stage after reverse() follows the flipped order
    ("$.s.sort(k).map(v).reverse().cummax()",
     [(2.0,), (9.0,), (9.0,), (9.0,), (9.0,), (9.0,), (9.0,)], ["v"]),
    # enumerate → {index, value} rows over the pipeline order
    ("$.s.sort(-v, k).take(3).enumerate().map({i: index, v: value.v})",
     [(0, 9.0), (1, 5.0), (2, 4.0)], ["i", "v"]),
    # scalar pipeline: value is the BARE element (doc-mode semantics),
    # not a 1-field struct
    ("$.s.sort(k).map(v).take(2).enumerate().map({i: index, x: value})",
     [(0, 3.0), (1, 1.0)], ["i", "x"]),
    # accumulate running-sum shape → window prefix sum (no fallback);
    # general folds (a * x) keep the doc fallback
    ("$.s.sort(k).map(v).accumulate((a, x) => a + x)",
     [(3.0,), (4.0,), (8.0,), (9.0,), (14.0,), (23.0,), (25.0,)], ["value"]),
    ("$.s.sort(k).map(v).accumulate((a, x) => a + x, 100).last()",
     [(125.0,)], ["value"]),
    # chunk(n) → one row per group-of-n (bounded collect per chunk)
    ("$.s.sort(k).map(v).chunk(3)",
     [([3.0, 1.0, 4.0],), ([1.0, 5.0, 9.0],), ([2.0],)], ["value"]),
    ("$.s.sort(k).map(v).chunk(3).first()", [([3.0, 1.0, 4.0],)], ["value"]),
    ("$.s.sort(k).chunk(4).count()", [(2,)], ["value"]),
    # pairwise → [prev, cur] rows via lag; first row dropped
    ("$.s.sort(k).map(v).pairwise()",
     [([3.0, 1.0],), ([1.0, 4.0],), ([4.0, 1.0],), ([1.0, 5.0],),
      ([5.0, 9.0],), ([9.0, 2.0],)], ["value"]),
    ("$.s.sort(k).map(v).pairwise().count()", [(6,)], ["value"]),
])
def test_native_lowering(spark, seq_tables, expr, want, cols):
    vals, got_cols = rel(spark, seq_tables, expr)
    assert vals == want
    assert got_cols == cols


@pytest.mark.parametrize("expr,want", [
    ("$.s.sort(k).map(v)[-1]", [(2.0,)]),
    ("$.s.sort(k).map(v)[-3]", [(5.0,)]),
])
def test_negative_index_lowers_with_order(spark, seq_tables, expr, want):
    vals, cols = rel(spark, seq_tables, expr)
    assert vals == want and cols == ["v"]


def test_fallback_refuses_large_file_input(spark, monkeypatch):
    """Above the size ceiling the single-task doc fallback must refuse,
    not OOM (round-2 verdict item 4)."""
    from jetro_spark.jql.compiler import CompileError
    monkeypatch.setenv("JETRO_FALLBACK_MAX_BYTES", "1000")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    t = JetroTables(spark, {"lineitem": li})
    with pytest.raises(CompileError, match="refusing the"):
        # multiplicative fold: no window lowering -> doc fallback path
        t.query("$.lineitem.map(l_quantity).accumulate((a, x) => a * x, 1)")


def test_fallback_allows_unknown_size_estimates(spark, seq_tables,
                                                monkeypatch):
    # local relations report Catalyst's "unknown" sentinel — warn, don't refuse
    monkeypatch.setenv("JETRO_FALLBACK_MAX_BYTES", "1000")
    with pytest.warns(UserWarning, match="no relational lowering"):
        out = JetroTables(spark, seq_tables).query(
            "$.s.map({v: v}).accumulate((a, x) => a * x.v, 1)")
        assert len(out.collect()) == 7


def test_unordered_last_lowers_via_scan_order(spark, seq_tables):
    """r8: without a .sort, last() lowers off the scan-order surrogate
    (the document order IS the scan order) — no fallback. r9: equi_join
    now CARRIES the receiver's scan order through the join (each
    receiver row yields ≤1 output row, array.rs:489-548), so a
    downstream last() also lowers relationally AND returns the
    doc-order last row, not a shuffle-arbitrary one."""
    import warnings as W

    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        out = JetroTables(spark, seq_tables).query("$.s.last()").collect()
    assert not any("no relational lowering" in str(w.message) for w in rec)
    assert len(out) == 1 and out[0]["k"] == 6   # the scan-last row
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        out = JetroTables(spark, seq_tables).query(
            "$.s.equi_join($.s, 'k', 'k').last()").collect()
    assert not any("no relational lowering" in str(w.message) for w in rec)
    assert len(out) == 1 and out[0]["k"] == 6   # receiver-order last


def test_doc_mode_equivalence(spark, seq_tables):
    doc = {"s": [{"k": i, "v": v}
                 for i, v in enumerate([3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0])]}
    j = Jetro.from_value(spark, doc)
    assert j.collect("$.s.sort(k).take_while(x => x.v < 5).map(v)") == \
        [3.0, 1.0, 4.0, 1.0]
    assert j.collect("$.s.sort(k).drop_while(x => x.v < 5).map(v)") == \
        [5.0, 9.0, 2.0]
    assert j.collect("$.s.map(v).flat_map([@, @ + 100.0]).len()") == 14
    assert j.collect("$.s.sort(k).map(v).nth(-2)") == 9.0


@pytest.mark.parametrize("expr", [
    "$.s.map(v).filter(@ > 2)",
    "$.s.map(v).map(@ * 2)",
    "$.s.map(v).flat_map([@, @ + 100.0]).len()",
])
def test_at_is_the_pipeline_element(spark, seq_tables, expr):
    """`@` in a stage argument is the pipeline element, as in doc mode:
    the bare column after map(v), not the row scope."""
    doc = {"s": [{"k": i, "v": v}
                 for i, v in enumerate([3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0])]}
    want = Jetro.from_value(spark, doc).collect(expr)
    vals, _ = rel(spark, seq_tables, expr)
    got = [v for (v,) in vals]
    assert got == (want if isinstance(want, list) else [want])


# ------------------------- round-5 lowerings (fallback-surface shrink)


@pytest.mark.parametrize("expr,want,cols", [
    # flatten: explode IS the relational flatten
    ("$.s.sort(k).map([v, v + 100]).flatten().count()", [(14,)], ["value"]),
    # find_first / find_one: filter + limit 1 over the pipeline order
    ("$.s.sort(k).find_first(v > 4).map(v)", [(5.0,)], ["v"]),
    ("$.s.sort(k).find_one(x => x.v > 4).map(k)", [(4,)], ["k"]),
    # find_index: 0-based over the order, -1 when absent
    ("$.s.sort(k).find_index(v > 4)", [(4,)], ["value"]),
    ("$.s.sort(k).find_index(v > 100)", [(-1,)], ["value"]),
    # includes/contains: one-pass bool_or membership
    ("$.s.map(v).includes(9.0)", [(True,)], ["value"]),
    ("$.s.map(k).includes(99)", [(False,)], ["value"]),
    # index_of: first position over the order
    ("$.s.sort(k).map(v).index_of(1.0)", [(1,)], ["value"]),
    ("$.s.sort(k).map(v).index_of(7.0)", [(-1,)], ["value"]),
    # join: ordered collect + array_join
    ('$.s.sort(k).map(f"{k}").join("-")', [("0-1-2-3-4-5-6",)], ["value"]),
    ('$.s.sort(-v).take(3).map(f"{v}").join(",")',
     [("9.0,5.0,4.0",)], ["value"]),
    # window(n): sliding frames over the order, short tails dropped
    ("$.s.sort(k).map(v).window(3).count()", [(5,)], ["value"]),
    ("$.s.sort(k).map(v).window(3).first()", [([3.0, 1.0, 4.0],)], ["value"]),
    ("$.s.sort(k).map(v).window(7)",
     [([3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0],)], ["value"]),
    # lambda predicate/key forms lower like their bare twins
    ("$.s.filter(x => x.v > 4).count()", [(2,)], ["value"]),
    ("$.s.sort(x => -x.v).map(v).first()", [(9.0,)], ["v"]),
    ("$.s.map(k).unique_by(x => x % 3).count()", [(3,)], ["value"]),
])
def test_round5_native_lowering(spark, seq_tables, expr, want, cols):
    vals, got_cols = rel(spark, seq_tables, expr)
    assert vals == want
    assert got_cols == cols


def test_partition_lowers_to_one_pass_agg(spark, seq_tables):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = JetroTables(spark, seq_tables).query(
            "$.s.sort(k).map(v).partition(x => x < 4)")
        rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["pass"] == [3.0, 1.0, 1.0, 2.0]
    assert rows[0]["fail"] == [4.0, 5.0, 9.0]


def test_group_shape_lowers_to_group_by(spark, seq_tables):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = JetroTables(spark, seq_tables).query(
            "$.s.group_shape(x => x.k % 2, g => g.map(v).sum())")
        got = {r["key"]: r["value"] for r in out.collect()}
    assert got == {"0": 14.0, "1": 11.0}


def test_compact_drops_scalar_nulls_natively(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 7.5), (4, None)], "id long, v double")
    jt = JetroTables(spark, {"t": df})
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert sorted(r["v"] for r in
                      jt.query("$.t.map(v).compact()").collect()) == [7.5, 10.0]
        # object rows are non-null structs: pass-through
        assert jt.query("$.t.compact().count()").collect()[0]["value"] == 4


def test_doc_fallback_scalar_pipelines_unwrap(spark, seq_tables):
    """The fallback collects scalar pipelines as bare arrays (not
    array<struct>) and respects the live sort order — the general
    multiplicative fold is the canonical non-lowerable stage."""
    jt = JetroTables(spark, seq_tables)
    with pytest.warns(UserWarning, match="no relational lowering"):
        out = jt.query(
            "$.s.sort(k).map(v).accumulate((a, x) => a * x, 1.0)")
        vals = [r["v"] for r in out.collect()]
    assert vals == [3.0, 3.0, 12.0, 12.0, 60.0, 540.0, 1080.0]


def test_doc_fallback_single_field_object_not_unwrapped(spark, seq_tables):
    """map({v: v}) makes single-COLUMN object rows — the fallback must
    keep the struct wrapper so x.v still resolves (the Pipe.scalar flag
    disambiguates what a 1-column DataFrame means)."""
    jt = JetroTables(spark, seq_tables)
    with pytest.warns(UserWarning, match="no relational lowering"):
        out = jt.query(
            "$.s.sort(k).map({v: v}).accumulate((a, x) => a * x.v, 1.0)")
        assert len(out.collect()) == 7


def test_comparator_sort_lowers_naturally(spark, seq_tables):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        jt = JetroTables(spark, seq_tables)
        asc = [r["v"] for r in
               jt.query("$.s.map(v).sort((a, b) => a < b)").collect()]
        desc = [r["v"] for r in
                jt.query("$.s.map(v).sort((a, b) => b < a)").collect()]
    assert asc == sorted(asc) and desc == sorted(desc, reverse=True)
    from jetro_spark.jql.compiler import CompileError
    with pytest.raises(CompileError, match="comparator sort"):
        JetroTables(spark, seq_tables).query(
            "$.s.sort((a, b) => a.v - b.v)")


def test_fallback_binds_table_refs(spark, seq_tables):
    """zip($.u...) inside the collapsed doc pipeline: `$` resolves to
    the COLLECTED tables (same ceiling), matching doc-mode semantics."""
    u = spark.createDataFrame([(0, "x"), (1, "y")], "i long, lbl string")
    jt = JetroTables(spark, {**seq_tables, "u": u})
    with pytest.warns(UserWarning, match="no relational lowering"):
        out = jt.query(
            "$.s.sort(k).take(2).map(k).zip($.u.sort(i).map(lbl))")
        rows = [tuple(r) for r in out.collect()]
    doc = Jetro.from_value(spark, {
        "s": [{"k": i, "v": v}
              for i, v in enumerate([3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0])],
        "u": [{"i": 0, "lbl": "x"}, {"i": 1, "lbl": "y"}]})
    want = doc.collect("$.s.sort(k).take(2).map(k).zip($.u.sort(i).map(lbl))")
    assert [list(r) for r in rows] == want


def test_fallback_refuses_large_table_ref(spark, monkeypatch):
    from jetro_spark.jql.compiler import CompileError
    monkeypatch.setenv("JETRO_FALLBACK_MAX_BYTES", "1000")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    s = spark.createDataFrame([(1, 2.0)], "k long, v double")
    jt = JetroTables(spark, {"s": s, "lineitem": li})
    with pytest.raises(CompileError, match="referenced inside a document"):
        with pytest.warns(UserWarning, match="no relational lowering"):
            jt.query("$.s.sort(k).map(v).zip($.lineitem.map(l_quantity))")


# ----------------- round-5 review regressions (Pipe.scalar flag, nulls)


def test_unordered_find_index_keeps_object_shape(spark, seq_tables):
    """find_index/window/chunk/pairwise must NOT flip the scalar flag
    before their order-guard sends an object pipeline to the fallback —
    the collapsed env needs the struct element for x.v."""
    jt = JetroTables(spark, seq_tables)
    with pytest.warns(UserWarning, match="no relational lowering"):
        out = jt.query("$.s.map({v: v}).find_index(x => x.v > 4)")
        assert [r[0] for r in out.collect()] in ([4], [2])  # any order: first v>4


def test_flatten_struct_elements_reset_scalar(spark, seq_tables):
    """flatten exploding array<struct> produces OBJECT rows; includes()
    after it must see a struct element (error like doc mode), never
    compare the single field as a bare scalar."""
    from jetro_spark.jql.compiler import CompileError
    jt = JetroTables(spark, seq_tables)
    doc = Jetro.from_value(spark, {"s": [
        {"k": i, "v": v}
        for i, v in enumerate([3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0])]})
    expr = "$.s.map(x => [{a: x.v}]).flatten().includes(5.0)"
    doc_err = rel_err = False
    try:
        doc.collect(expr)
    except CompileError:
        doc_err = True
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            JetroTables(spark, seq_tables).query(expr).collect()
    except CompileError:
        rel_err = True
    assert doc_err == rel_err, "mode divergence on struct includes"


@pytest.mark.parametrize("expr,want,cols", [
    # indices over the pipeline order (rows, fallback-explode shape)
    ("$.s.sort(k).indices_where(v > 4)", [(4,), (5,)], ["value"]),
    ("$.s.sort(k).map(v).indices_of(1.0)", [(1,), (3,)], ["value"]),
    ("$.s.sort(k).map(v).last_index_of(1.0)", [(3,)], ["value"]),
    ("$.s.sort(k).map(v).last_index_of(7.0)", [(-1,)], ["value"]),
    # to_json sink: ordered whole-pipeline JSON string
    ("$.s.sort(k).take(2).map({k: k}).to_json()",
     [('[{"k":0},{"k":1}]',)], ["value"]),
    ("$.s.sort(-v).take(2).map(v).to_json()", [("[9.0,5.0]",)], ["value"]),
])
def test_round5b_native_lowering(spark, seq_tables, expr, want, cols):
    vals, got_cols = rel(spark, seq_tables, expr)
    assert vals == want
    assert got_cols == cols


def test_indices_of_null_matches_doc_mode(spark):
    """eqNullSafe: doc-mode indices_of finds null values; the relational
    lowering must agree (review regression)."""
    df = spark.createDataFrame([(0, 1.0), (1, None), (2, 1.0)],
                               "k long, v double")
    jt = JetroTables(spark, {"s": df})
    doc = Jetro.from_value(spark, {"s": [
        {"k": 0, "v": 1.0}, {"k": 1, "v": None}, {"k": 2, "v": 1.0}]})
    assert doc.collect("$.s.sort(k).map(v).last_index_of(1.0)") == 2
    got = jt.query("$.s.sort(k).map(v).last_index_of(1.0)").collect()
    assert got[0]["value"] == 2
