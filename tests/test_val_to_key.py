"""val_to_key collision-class parity (r13, ADVICE items 2+3 widened).

The reference keys EVERY set-op / unique / includes / remove(value)
membership through val_to_key (util.rs:216-226): strings render bare,
null renders "null", containers render compact JSON
(serde_json::to_string — val_to_string, util.rs:228-243). Three
collision classes follow that native null-safe equality misses:

  - string vs null:      a NULL keys "null" == the literal string
  - string vs container: a string equal to the compact JSON text
  - variant vs anything: the key is the ONLY total comparison

Consumers pinned here: diff/intersect/union (collection.rs:594-646),
unique/unique_by (collection.rs:77-86, array.rs:273-292), includes
(misc.rs:129-151 Val::Arr arm), remove(value) (collection.rs:395-405)
— in BOTH modes. remove's arg classification is also pinned: only a
LAMBDA is a per-element predicate (mod.rs:2557-2562); every other arg
shape (paths included) is a value evaluated once in the enclosing env.
"""

from __future__ import annotations

import pytest

from jetro_spark.jql.compiler import CompileError
from jetro_spark.jql.engine import Jetro, JetroTables


DOC_CASES = [
    # --- string vs null bucket: set ops
    ({"s": ["null", "x"], "u": ["a", None]}, "$.s.diff($.u)", ["x"]),
    ({"s": ["null", "x"], "u": ["a", None]}, "$.s.intersect($.u)", ["null"]),
    ({"s": ["a", None], "u": ["null"]}, "$.s.diff($.u)", ["a"]),
    ({"s": ["a"], "u": ["b", None]}, "$.s.union($.u)", ["a", "b", None]),
    ({"s": ["a", "null"], "u": ["b", None]},
     "$.s.union($.u)", ["a", "null", "b"]),
    # --- string vs container: compact-JSON key text
    ({"a": ["[1,2]"], "b": [[1, 2]]}, "$.a.union($.b)", ["[1,2]"]),
    ({"a": ["[1, 2]"], "b": [[1, 2]]},
     "$.a.union($.b)", ["[1, 2]", [1, 2]]),
    ({"a": ['{"k":1}'], "b": [{"k": 1}]}, "$.a.union($.b)", ['{"k":1}']),
    ({"s": ["[1,2]", "x"], "u": [[1, 2]]}, "$.s.diff($.u)", ["x"]),
    ({"s": ["[1,2]", "x"], "u": [[1, 2]]}, "$.s.intersect($.u)", ["[1,2]"]),
    ({"s": [[1, 2], [3]], "u": ["[1,2]"]}, "$.s.diff($.u)", [[3]]),
    ({"s": [{"k": 1}], "u": ['{"k":1}']},
     "$.s.intersect($.u)", [{"k": 1}]),
    # null struct fields stay IN the JSON key (serde keeps them;
    # Spark's to_json default ignoreNullFields would render {})
    ({"s": [{"k": None}], "u": ['{"k":null}']},
     "$.s.intersect($.u)", [{"k": None}]),
    # null-family fields defer to runtime null-safe equality — the
    # r12 ADVICE medium item's repro (struct<k:null> vs struct<k:long>,
    # both holding {"k":null}, serialize identically)
    ({"s": [{"k": None}], "u": [{"k": 1}, {"k": None}]},
     "$.s.diff($.u)", []),
    ({"s": [{"k": None}], "u": [{"k": 1}, {"k": None}]},
     "$.s.intersect($.u)", [{"k": None}]),
    ({"s": [{"k": None}], "u": [{"k": 1}]},
     "$.s.diff($.u)", [{"k": None}]),
    # --- includes: val_to_key keys (Val::Arr arm)
    ({"s": ["a", None]}, '$.s.includes("null")', True),
    ({"s": ["a", "null"]}, "$.s.includes($.missing)", True),
    ({"s": ["a", "b"]}, "$.s.includes($.missing)", False),
    ({"s": ["[1,2]"], "p": [[1, 2]]}, "$.s.includes($.p[0])", True),
    ({"s": [[1, 2]], "p": "[1,2]"}, "$.s.includes($.p)", True),
    ({"s": [[1, 2]], "p": "[1, 2]"}, "$.s.includes($.p)", False),
    # --- remove(value): val form for ANY non-lambda arg, keyed
    ({"s": ["null", "x", None]}, "$.s.remove($.missing)", ["x"]),
    ({"s": [1, None, 2]}, "$.s.remove($.missing)", [1, 2]),
    ({"s": ["[1,2]", "x"], "p": [[1, 2]]}, "$.s.remove($.p[0])", ["x"]),
    # --- unique / unique_by: first occurrence per key, null-ness intact
    ({"s": [None, "null", "a", None, "a"]}, "$.s.unique()", [None, "a"]),
    ({"s": ["null", None, "a"]}, "$.s.unique()", ["null", "a"]),
    ({"s": [{"k": None, "v": 1}, {"k": "null", "v": 2},
            {"k": "a", "v": 3}]},
     "$.s.unique_by(k)", [{"k": None, "v": 1}, {"k": "a", "v": 3}]),
]


@pytest.mark.parametrize("doc,expr,want", DOC_CASES,
                         ids=[c[1] for c in DOC_CASES])
def test_val_to_key_doc(spark, doc, expr, want):
    assert Jetro.from_value(spark, doc).collect(expr) == want


VARIANT_CASES = [
    # heterogeneous post-union arrays (variant elements): the val_to_key
    # ops stay total — unique/includes/set-ops key canonically
    ("$.s.map(g).union($.u.map(x => x.k)).unique().count()", None),
    ('$.s.map(g).union($.u.map(x => x.k)).includes("g1")', True),
    ("$.s.map(g).union($.u.map(x => x.k)).includes(2.0)", True),
    ("$.s.map(g).union($.u.map(x => x.k)).includes(74.0)", False),
]


@pytest.fixture(scope="module")
def vdoc(spark):
    rows = [{"k": i, "v": float((i * 37) % 101), "g": f"g{i % 3}"}
            for i in range(17)]
    rows_u = rows[:5] + [{"k": 99, "v": 7.5, "g": "g9"}]
    return Jetro.from_value(spark, {"s": rows, "u": rows_u})


def test_variant_union_unique(vdoc):
    # 17 g values collapse to {g0,g1,g2}; union appends longs 0..4,99
    # (none collide with the g strings) → unique = 3 + 6
    out = vdoc.collect("$.s.map(g).union($.u.map(x => x.k)).unique()")
    assert out == ["g0", "g1", "g2", 0, 1, 2, 3, 4, 99]


@pytest.mark.parametrize("expr,want",
                         [c for c in VARIANT_CASES if c[1] is not None],
                         ids=[c[0] for c in VARIANT_CASES
                              if c[1] is not None])
def test_variant_membership(vdoc, expr, want):
    assert vdoc.collect(expr) == want


def test_variant_union_diff(vdoc):
    # diff against a string side: "3" (string) removes long 3 —
    # val_to_key crosses the variant boundary
    out = vdoc.collect(
        '$.s.map(g).union($.u.map(x => x.k)).unique().diff(["g1", "3"])')
    assert out == ["g0", "g2", 0, 1, 2, 4, 99]


def test_variant_sort_controlled_error(vdoc):
    # json_cmp_vals compares cross-kind pairs Equal (util.rs:100-135) —
    # a non-transitive comparator, so mixed-array sort order is
    # algorithm-dependent in the reference; the engine raises a
    # CONTROLLED CompileError in both modes instead
    with pytest.raises(CompileError):
        vdoc.collect("$.s.map(g).union($.u.map(x => x.k)).sort()")


# --- relational mode ---------------------------------------------------


@pytest.fixture(scope="module")
def rel_tables(spark):
    s = spark.createDataFrame([("null",), ("x",), (None,)], "v string")
    u = spark.createDataFrame([("a",), (None,)], "v string")
    kv = spark.createDataFrame(
        [("null", 1), (None, 2), ("a", 3)], "k string, v long")
    return {"s": s, "u": u, "kv": kv}


def _vals(df):
    cols = [c for c in df.columns if not c.startswith("__")]
    assert len(cols) == 1
    return [r[cols[0]] for r in df.select(*cols).collect()]


def test_rel_setops_string_null(spark, rel_tables):
    jt = lambda: JetroTables(spark, dict(rel_tables))  # noqa: E731
    assert _vals(jt().query("$.s.map(v).diff($.u.map(v))")) == ["x"]
    assert sorted(_vals(jt().query("$.s.map(v).intersect($.u.map(v))")),
                  key=str) == sorted(["null", None], key=str)
    got = _vals(jt().query("$.s.map(v).union($.u.map(v))"))
    assert sorted(got, key=str) == sorted(["null", "x", None, "a"], key=str)


def test_rel_unique_string_null(spark, rel_tables):
    got = _vals(JetroTables(spark, dict(rel_tables)).query(
        "$.s.map(v).unique()"))
    # "null" (row 0, first seen) merges the later NULL; x survives
    assert got == ["null", "x"]


def test_rel_unique_by_string_null(spark, rel_tables):
    got = _vals(JetroTables(spark, dict(rel_tables)).query(
        "$.kv.unique_by(k).map(v)"))
    assert got == [1, 3]


def test_unique_schema_gate_plain_distinct(spark):
    """r14: when the inferred schema PROVES no null element can reach
    unique() (exact-nullability ingestion + map fast-path containsNull
    propagation), the null/"null" collision fixup is impossible and
    the lowering is plain array_distinct — the bl_q2 plan shape. The
    fixup's CASE/transform scaffolding must NOT appear."""
    doc = {"s": [{"c": "US"}, {"c": "DE"}, {"c": "US"}, {"c": "null"}]}
    jt = Jetro.from_value(spark, doc)
    df = jt.frame("$.s.map(c).unique()")
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "array_distinct" in plan
    assert "CASE" not in plan and "transform" not in plan, plan
    assert jt.collect("$.s.map(c).unique()") == ["US", "DE", "null"]


def test_unique_nullable_map_path_keeps_fixup(spark):
    """The schema gate must NOT skip the fixup when a hop of the map
    path is nullable: a null projected element still keys "null" and
    merges with the literal (collection.rs:77-86 via val_to_key)."""
    jt = Jetro.from_value(
        spark, {"s": [{"c": "null"}, {"c": None}, {"c": "a"}]})
    assert jt.collect("$.s.map(c).unique()") == ["null", "a"]
    jt2 = Jetro.from_value(
        spark, {"s": [{"c": None}, {"c": "null"}, {"c": "a"}]})
    assert jt2.collect("$.s.map(c).unique()") == [None, "a"]


def test_unique_missing_field_nullable_union(spark):
    """A field MISSING in some array elements null-pads (union_struct),
    so schema inference must mark it nullable and unique() must keep
    the collision fixup for it."""
    jt = Jetro.from_value(
        spark, {"s": [{"c": "null", "d": 1}, {"d": 2}, {"c": "b", "d": 3}]})
    assert jt.collect("$.s.map(c).unique()") == ["null", "b"]


def test_unique_fixup_binds_distinct_once(spark):
    """The nullable-string unique fixup must BIND array_distinct once
    (let_) — HOF lambdas have no CSE, so an unbound reference would
    re-evaluate the distinct per branch reference (the r13 bl_q2
    hang class). Pinned via plan shape: exactly one array_distinct."""
    jt = Jetro.from_value(
        spark, {"s": [{"c": "null"}, {"c": None}, {"c": "a"}]})
    plan = jt.frame("$.s.map(c).unique()")._jdf.queryExecution()\
        .analyzed().toString()
    assert plan.count("array_distinct") == 1, plan
