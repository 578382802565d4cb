"""Patches & chain-writes (§2.11) — goldens ported from the reference's
jc/tests/chain_write.rs (652 LoC). Semantics: sequential clauses, `when`
guards against the pre-patch doc, `@` = pre-write leaf, DELETE sentinel,
chain-write desugar on document roots, Phase-B pipe/object/let fusion."""

from __future__ import annotations

import copy
import json

import pytest

from jetro_spark.benchdoc import synth_doc
from jetro_spark.jql.compiler import CompileError
from jetro_spark.jql.engine import Jetro


@pytest.fixture(scope="module")
def J(spark):
    def run(doc, expr):
        return Jetro.from_value(spark, doc).collect(expr)
    return run


# ---------------------------------------------------------- patch blocks


def test_patch_simple_field_replace(J):
    assert J({"name": "Alice", "age": 30}, 'patch $ { name: "Bob" }') == \
        {"name": "Bob", "age": 30}


def test_patch_nested_field_replace(J):
    assert J({"user": {"name": "Alice", "age": 30}},
             'patch $ { user.name: "Bob" }') == \
        {"user": {"name": "Bob", "age": 30}}


def test_patch_delete_field(J):
    assert J({"name": "Alice", "tmp": "remove-me", "age": 30},
             "patch $ { tmp: DELETE }") == {"name": "Alice", "age": 30}


def test_patch_add_new_field(J):
    assert J({"name": "Alice"}, "patch $ { age: 42 }") == \
        {"name": "Alice", "age": 42}


def test_patch_wildcard_array(J):
    doc = {"users": [{"name": "Alice", "seen": False},
                     {"name": "Bob", "seen": False}]}
    assert J(doc, "patch $ { users[*].seen: true }") == \
        {"users": [{"name": "Alice", "seen": True},
                   {"name": "Bob", "seen": True}]}


def test_patch_wildcard_filter(J):
    doc = {"users": [{"name": "Alice", "active": True, "role": "user"},
                     {"name": "Bob", "active": False, "role": "user"},
                     {"name": "Cara", "active": True, "role": "user"}]}
    assert J(doc, 'patch $ { users[* if active].role: "admin" }') == \
        {"users": [{"name": "Alice", "active": True, "role": "admin"},
                   {"name": "Bob", "active": False, "role": "user"},
                   {"name": "Cara", "active": True, "role": "admin"}]}


def test_patch_uses_current_value(J):
    doc = {"users": [{"name": "Alice", "email": "ALICE@X"},
                     {"name": "Bob", "email": "BOB@X"}]}
    assert J(doc, "patch $ { users[*].email: @.lower() }") == \
        {"users": [{"name": "Alice", "email": "alice@x"},
                   {"name": "Bob", "email": "bob@x"}]}


def test_patch_conditional_when_truthy(J):
    assert J({"count": 5, "enabled": True},
             "patch $ { count: @ + 1 when $.enabled }") == \
        {"count": 6, "enabled": True}


def test_patch_conditional_when_falsy_skips(J):
    assert J({"count": 5, "enabled": False},
             "patch $ { count: @ + 1 when $.enabled }") == \
        {"count": 5, "enabled": False}


def test_patch_multiple_ops_in_order(J):
    assert J({"a": 1, "b": 2, "c": 3}, "patch $ { a: 10, b: DELETE, c: 30 }") \
        == {"a": 10, "c": 30}


def test_patch_index_access(J):
    assert J({"items": [10, 20, 30]}, "patch $ { items[1]: 99 }") == \
        {"items": [10, 99, 30]}


def test_patch_negative_index(J):
    assert J({"items": [10, 20, 30]}, "patch $ { items[-1]: 99 }") == \
        {"items": [10, 20, 99]}


def test_patch_delete_from_wildcard(J):
    doc = {"users": [{"name": "Alice", "active": True},
                     {"name": "Bob", "active": False},
                     {"name": "Cara", "active": True}]}
    assert J(doc, "patch $ { users[* if not active]: DELETE }") == \
        {"users": [{"name": "Alice", "active": True},
                   {"name": "Cara", "active": True}]}


def test_patch_composes_pipe(J):
    assert J({"name": "Alice", "age": 30},
             'patch $ { name: "Bob" } | @.name') == "Bob"


def test_patch_composes_method_chain(J):
    keys = J({"name": "Alice", "age": 30}, 'patch $ { name: "Bob" }.keys()')
    assert sorted(keys) == ["age", "name"]


def test_patch_composes_nested_in_object(J):
    assert J({"name": "Alice"}, '{result: patch $ { name: "Bob" }}') == \
        {"result": {"name": "Bob"}}


def test_patch_composes_let_binding(J):
    assert J({"name": "Alice", "age": 30},
             'let x = patch $ { name: "Bob" } in x.name') == "Bob"


def test_patch_composes_nested_patch(J):
    assert J({"name": "Alice", "age": 30},
             'patch (patch $ { name: "Bob" }) { age: 99 }') == \
        {"name": "Bob", "age": 99}


def test_patch_composes_inside_map(J):
    assert J({"users": [{"n": 1}, {"n": 2}, {"n": 3}]},
             "$.users.map(patch @ { n: @ * 10 })") == \
        [{"n": 10}, {"n": 20}, {"n": 30}]


def test_delete_mark_outside_patch_errors(J):
    with pytest.raises(CompileError):
        J({}, "DELETE")


# ------------------------------------------------- batched-trie semantics


def test_batched_three_disjoint_writes(J):
    assert J({"a": 0, "b": 0, "c": 0, "d": 0}, "patch $ { a: 1, b: 2, c: 3 }") \
        == {"a": 1, "b": 2, "c": 3, "d": 0}


def test_batched_sibling_writes_share_parent(J):
    assert J({"user": {"name": "?", "role": "?"}},
             'patch $ { user.name: "alice", user.role: "admin" }') == \
        {"user": {"name": "alice", "role": "admin"}}


def test_batched_nested_overlap_last_wins(J):
    assert J({"a": 1}, "patch $ { a: {x: 1}, a.x: 2 }") == {"a": {"x": 2}}


def test_batched_array_index_writes(J):
    assert J({"items": [0, 0, 0]}, "patch $ { items[0]: 10, items[1]: 20 }") \
        == {"items": [10, 20, 0]}


def test_batched_delete_and_replace(J):
    assert J({"a": 0, "b": 0}, "patch $ { a: DELETE, b: 1 }") == {"b": 1}


def test_batched_insert_missing_field(J):
    assert J({"name": "Alice"},
             'patch $ { meta.role: "admin", meta.active: true }') == \
        {"name": "Alice", "meta": {"role": "admin", "active": True}}


def test_batched_modify_uses_old_value(J):
    assert J({"a": 5, "b": 10}, "patch $ { a: @ + 1, b: @ * 2 }") == \
        {"a": 6, "b": 20}


def test_conditional_add_mixed_truthiness(J):
    assert J({"role": "admin", "id": 7},
             'patch $ { active: true when $.role == "admin", '
             "banned: true when $.id < 0 }") == \
        {"role": "admin", "id": 7, "active": True}


def test_conditional_existing_field_truthy(J):
    assert J({"role": "admin", "active": False},
             'patch $ { active: true when $.role == "admin" }') == \
        {"role": "admin", "active": True}


def test_conditional_existing_field_falsy(J):
    assert J({"role": "user", "active": False},
             'patch $ { active: true when $.role == "admin" }') == \
        {"role": "user", "active": False}


def test_conditional_guard_reads_prebatch_doc(J):
    # guard `$.id > 5` sees the PRE-batch id (0), not the rolled 7
    assert J({"id": 0, "flag": False},
             "patch $ { id: 7, flag: true when $.id > 5 }") == \
        {"id": 7, "flag": False}


def test_conditional_delete_falsy_keeps_field(J):
    assert J({"a": 1, "b": 2}, "patch $ { a: DELETE when $.b > 100 }") == \
        {"a": 1, "b": 2}


def test_conditional_delete_truthy_removes_field(J):
    assert J({"a": 1, "b": 2, "c": 3},
             "patch $ { a: DELETE when $.b > 1, c: 99 }") == \
        {"b": 2, "c": 99}


def test_wildcard_alongside_plain_write(J):
    assert J({"users": [{"n": 1}, {"n": 2}], "tag": "x"},
             'patch $ { users[*].n: @ + 100, tag: "y" }') == \
        {"users": [{"n": 101}, {"n": 102}], "tag": "y"}


# ------------------------------------------------------------ chain-writes


def test_chain_set_single(J):
    assert J({"a": 0, "k": "hi"}, "$.a.set(1)") == {"a": 1, "k": "hi"}


def test_chain_pipe_fuses_three_root_writes(J):
    assert J({}, "$.a.set(1) | $.b.set(2) | $.c.set(3)") == \
        {"a": 1, "b": 2, "c": 3}


def test_chain_pipe_fuses_at_rooted_stages(J):
    assert J({}, "$.a.set(1) | @.b.set(2) | @.c.set(3)") == \
        {"a": 1, "b": 2, "c": 3}


def test_chain_read_between_writes(J):
    r = J({"a": 5}, "$.a.set(10) | $.a + 100 | $.b.set(@)")
    assert "b" in r


def test_chain_object_field_writes_fuse(J):
    r = J({"x": 0, "y": 0}, "{a: $.x.set(1), b: $.y.set(2), c: 3}")
    assert r["a"]["x"] == 1 and r["a"]["y"] == 2
    assert r["b"]["x"] == 1 and r["b"]["y"] == 2
    assert r["c"] == 3


def test_chain_object_root_read_skips_fusion(J):
    r = J({"x": 0, "y": 0, "meta": "hi"},
          "{a: $.x.set(1), b: $.y.set(2), m: $.meta}")
    assert r["m"] == "hi"
    assert r["a"]["x"] == 1


def test_chain_let_init_body_fuses_via_alias(J):
    assert J({}, "let x = $.a.set(1) in x.b.set(2)") == {"a": 1, "b": 2}


def test_chain_lambda_body_writes_dont_leak(J):
    assert J({"list": [{"id": 1}, {"id": 2}]},
             "$.list.map(lambda o: o.id.set(99))") == [99, 99]


def test_chain_deep_overlap_source_order(J):
    assert J({}, "$.a.set({x: 1}) | $.a.x.set(2)") == {"a": {"x": 2}}


def test_chain_sibling_writes(J):
    assert J({"user": {"name": "X", "role": "u"}},
             '$.user.name.set("Alice") | $.user.role.set("admin")') == \
        {"user": {"name": "Alice", "role": "admin"}}


def test_chain_let_pure_read_body(J):
    assert J({"a": 0, "k": "hi"}, "let x = $.a.set(1) in x.k") == "hi"


def test_chain_object_three_writes_one_other_field(J):
    r = J({"x": 0, "y": 0, "z": 0},
          '{a: $.x.set(1), b: $.y.set(2), c: $.z.set(3), tag: "lit"}')
    assert r["tag"] == "lit"
    assert r["a"]["x"] == 1 and r["a"]["y"] == 2 and r["a"]["z"] == 3


def test_chain_modify(J):
    assert J({"n": 10}, "$.n.modify(lambda x: x * 3)") == {"n": 30}


def test_chain_delete(J):
    assert J({"a": 1, "b": 2}, "$.a.delete()") == {"b": 2}


def test_chain_unset(J):
    assert J({"user": {"name": "A", "tmp": 1}}, '$.user.unset("tmp")') == \
        {"user": {"name": "A"}}


def test_chain_merge(J):
    assert J({"cfg": {"a": 1}}, "$.cfg.merge({b: 2})") == \
        {"cfg": {"a": 1, "b": 2}}


def test_patch_untouched_subtrees_survive(J):
    doc = {"touched": {"x": 1, "y": 2},
           "untouched": {"a": [1, 2, 3], "b": "string", "c": {"deep": True}}}
    assert J(doc, "patch $ { touched.x: 99, touched.y: 100 }") == \
        {"touched": {"x": 99, "y": 100},
         "untouched": {"a": [1, 2, 3], "b": "string", "c": {"deep": True}}}


def test_chain_dynamic_index_set(J):
    # regression.rs:3043 tier1 chain write with a dynamic index
    assert J({"xs": [10, 20, 30, 40], "i": 2}, "$.xs[$.i].set(99)") == \
        {"xs": [10, 20, 99, 40], "i": 2}


def test_patch_dynamic_index(J):
    assert J({"xs": [10, 20, 30], "i": 1}, "patch $ { xs[$.i]: 77 }") == \
        {"xs": [10, 77, 30], "i": 1}


def test_patch_over_jetro_docs_corpus(spark):
    """One compiled patch program over a DataFrame of documents —
    guarded add, modify, and DELETE per document, in parallel."""
    from pyspark.sql import functions as F
    from jetro_spark.jql.engine import JetroDocs

    js = spark.createDataFrame(
        [(f'{{"id": {i}, "total": {i * 100}.0, "tmp": "x"}}',)
         for i in range(1, 6)], "js string")
    jd = JetroDocs.from_json_strings(spark, js, "js")
    out = jd.frame(
        'patch $ {big: $.total >= 300.0, total: $.total * 2.0, tmp: DELETE}')
    rows = sorted(out.select("value.*").collect(), key=lambda r: r["id"])
    assert "tmp" not in rows[0].__fields__
    assert [r["total"] for r in rows] == [200.0, 400.0, 600.0, 800.0, 1000.0]
    assert [r["big"] for r in rows] == [False, False, True, True, True]


# ------------------------------------ element writes on ingested documents


def _edit_orders(doc, edit):
    """Hand-computed patch result: a copy of ``doc`` with ``edit(i, order)``
    applied to every order."""
    out = copy.deepcopy(doc)
    for i, order in enumerate(out["orders"]):
        edit(i, order)
    return out


def _double_total(i, order):
    order["total"] *= 2


def _status_first(i, order):
    if i == 0:
        order["status"] = "x"


def _flag_big(i, order):
    if order["total"] > 9000:
        order["status"] = "flagged"


@pytest.mark.parametrize("ingest", ["from_value", "from_bytes"])
@pytest.mark.parametrize("expr,edit", [
    ("patch $ { orders[*].total: @ * 2 }", _double_total),
    ('patch $ { orders[0].status: "x" }', _status_first),
    ('patch $ { orders[* if total > 9000].status: "flagged" }', _flag_big),
], ids=["wild", "index", "wild_if"])
def test_patch_array_element_on_not_null_schema(spark, ingest, expr, edit):
    # the ingested schema of a generated document claims NOT NULL nested
    # fields; writing into array elements cast the rebuilt (nullable)
    # element to it and failed analysis. 60 orders: the first size with an
    # order over 9000, so the filtered write changes one element.
    doc = synth_doc(60, 6)
    want = _edit_orders(doc, edit)
    assert want != doc
    if ingest == "from_value":
        j = Jetro.from_value(spark, doc)
    else:
        j = Jetro.from_bytes(spark, json.dumps(doc).encode())
    assert j.collect(expr) == want


# ------------------------------------------- one writer: deletes and pads


@pytest.mark.parametrize("expr", [
    "patch $ { a.x: DELETE }", "$.a.x.delete()", "$.a.unset(x)",
])
def test_deleting_the_last_field_leaves_an_empty_object(J, expr):
    assert J({"a": {"x": 1}, "b": 2}, expr) == {"a": {}, "b": 2}


def test_wildcard_delete_of_the_last_element_field(J):
    assert J({"s": [{"k": 1}, {"k": 2}]}, "patch $ { s[*].k: DELETE }") == \
        {"s": [{}, {}]}


def test_wildcard_delete_of_a_nested_field(J):
    doc = {"s": [{"k": 1, "a": {"x": 1, "y": 2}}]}
    assert J(doc, "patch $ { s[*].a.x: DELETE }") == \
        {"s": [{"k": 1, "a": {"y": 2}}]}


def test_filtered_element_delete_null_pads_the_field(J):
    # the untouched elements keep the field, so the one static element
    # type keeps it too: the deleted field reads back as null (README,
    # known differences)
    assert J({"s": [{"k": 1}, {"k": 2}]},
             "patch $ { s[* if k > 1].k: DELETE }") == \
        {"s": [{"k": 1}, {"k": None}]}


def test_filtered_element_field_add_null_pads_the_rest(J):
    assert J({"s": [{"k": 1, "a": {"x": 1}}, {"k": 2, "a": {"x": 2}}]},
             "patch $ { s[* if k > 1].a.y: 1 }") == \
        {"s": [{"k": 1, "a": {"x": 1, "y": None}},
               {"k": 2, "a": {"x": 2, "y": 1}}]}


def test_delete_below_a_missing_field_is_a_no_op(J):
    assert J({"n": 1}, "patch $ { q.x: DELETE }") == {"n": 1}
    assert J({"n": 1}, "patch $ { n.x: DELETE }") == {"n": 1}


def test_relational_delete_of_the_last_column_agrees(spark, J):
    from jetro_spark.jql.engine import JetroTables

    expr = "$.t.map(patch @ {g: DELETE})"
    df = spark.createDataFrame([("a",), ("b",)], "g string")
    out = JetroTables(spark, {"t": df}).query(expr)
    rel = [r.asDict(recursive=True) for r in out.collect()]
    assert rel == J({"t": [{"g": "a"}, {"g": "b"}]}, expr) == [{}, {}]


def test_schema_changing_guard_inside_a_lambda_raises_patch_error(J):
    # the guard reads the lambda's element, which no one-row evaluation
    # of the document can resolve: both modes refuse it at compile time
    from jetro_spark.jql.patch import PatchError

    with pytest.raises(PatchError):
        J({"s": [{"v": 1.0}, {"v": 3.0}]},
          "$.s.map(patch @ { z: 1 when @.v > 2 })")


def test_from_json_inside_a_lambda_raises_compile_error(J):
    with pytest.raises(CompileError):
        J({"s": ['{"a": 1}']}, "$.s.map(@.from_json())")
