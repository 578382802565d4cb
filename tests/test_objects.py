"""Object transforms (§2.7) & path ops (§2.8) through the JQL compiler.

Golden-value style mirrors the reference's fixture tests
(jc/tests/examples.rs). Reference semantics: ops/path.rs:203-350,
ops/array.rs:1006-1072, ops/collection.rs:648-730.
"""

from __future__ import annotations

import pytest

from jetro_spark.jql.engine import Jetro, objrepr_to_dict


@pytest.fixture(scope="module")
def j(spark):
    return Jetro.from_value(spark, {
        "user": {
            "id": 1, "name": "Ann", "email": None,
            "address": {"city": "Tokyo", "zip": "123"},
        },
        "extra": {"role": "admin", "name": "Override"},
    })


def test_keys_values_entries(j):
    assert j.collect("$.user.keys()") == ["id", "name", "email", "address"]
    # values unify to a common Spark type (heterogeneous arrays → string)
    assert j.collect("$.user.omit('address').values()") == ["1", "Ann", None]
    # entries are POSITIONAL pairs, indexable e[0]/e[1]
    # (examples.rs obj_entries: e[0] == "dark_mode")
    ent = j.collect("$.user.pick(id, name).entries()")
    assert ent == [["id", "1"], ["name", "Ann"]]
    assert j.collect("$.user.pick(id, name).entries()[0][0]") == "id"
    assert j.collect("$.user.pick(id, name).entries().map(@[0])") == ["id", "name"]
    rt = objrepr_to_dict(j.collect("$.user.pick(id, name).to_pairs().from_pairs()"))
    assert rt == {"id": "1", "name": "Ann"}


def test_pick_omit(j):
    assert j.collect("$.user.pick(id, nm: name)") == {"id": 1, "nm": "Ann"}
    assert j.collect("$.user.pick(id, missing_key)") == {"id": 1, "missing_key": None}
    got = j.collect("$.user.omit('address', 'email')")
    assert got == {"id": 1, "name": "Ann"}


def test_merge_defaults(j):
    got = j.collect("$.user.omit('address').merge($.extra)")
    # right wins on collision, left key order, new right keys appended
    assert got == {"id": 1, "name": "Override", "email": None, "role": "admin"}
    got = j.collect('$.user.omit("address").defaults({email: "x@y", id: 99})')
    assert got == {"id": 1, "name": "Ann", "email": "x@y"}


def test_deep_merge(spark):
    j2 = Jetro.from_value(spark, {
        "a": {"x": {"p": 1, "q": 2}, "y": 3},
        "b": {"x": {"q": 20, "r": 30}, "z": 4},
    })
    merged = {"x": {"p": 1, "q": 20, "r": 30}, "y": 3, "z": 4}
    # pipe form returns just the merged value (INDEPTH.md:201)
    assert j2.collect("$.a | deep_merge($.b)") == merged
    # rooted chain form is a chain-write: returns the WHOLE doc with the
    # merge applied in place (regression.rs tier1_chain_deep_merge)
    assert j2.collect("$.a.deep_merge($.b)") == {
        "a": merged, "b": {"x": {"q": 20, "r": 30}, "z": 4}}


def test_rename_set_update(j):
    assert j.collect("$.user.pick(name).rename({name: full_name})") \
        == {"full_name": "Ann"}
    assert j.collect('$.user.pick(id).set("age", 40)') == {"id": 1, "age": 40}
    assert j.collect('$.user.pick(id).set("id", 9)') == {"id": 9}
    assert j.collect('$.user.pick(id).update("id", x => x * 10)') == {"id": 10}


def test_has_missing(j):
    assert j.collect('$.user.has("id", "name")') is True
    assert j.collect('$.user.has("id", "nope")') is False
    assert j.collect('$.user.missing("nope")') is True


def test_invert(j):
    assert objrepr_to_dict(j.collect("$.user.pick(id, name).invert()")) \
        == {"1": "id", "Ann": "name"}


def test_transform_filter_keys_values(j):
    assert objrepr_to_dict(j.collect(
        "$.user.pick(id, name).transform_keys(k => k.upper())")) \
        == {"ID": "1", "NAME": "Ann"}
    assert j.collect("$.user.pick(id).transform_values(v => v * 2)") == {"id": 2}
    assert objrepr_to_dict(j.collect(
        '$.user.omit("address").filter_keys(k => k.starts_with("e"))')) \
        == {"email": None}
    assert objrepr_to_dict(j.collect(
        "$.user.pick(id).filter_values(v => v > 0)")) == {"id": 1}


def test_get_has_path(j):
    assert j.collect('$.get_path("user.address.city")') == "Tokyo"
    assert j.collect('$.get_path("user.nope.deeper")') is None
    assert j.collect('$.has_path("user.address.city")') is True
    assert j.collect('$.has_path("user.address.country")') is False


def test_set_del_path(j):
    got = j.collect('$.user.set_path("address.country", "JP")')
    assert got["address"] == {"city": "Tokyo", "zip": "123", "country": "JP"}
    got = j.collect('$.user.set_path("brand.new.leaf", 7)')
    assert got["brand"] == {"new": {"leaf": 7}}
    got = j.collect('$.user.del_path("address.zip")')
    assert got["address"] == {"city": "Tokyo"}
    got = j.collect('$.del_paths(["user.email", "extra"])')
    assert "extra" not in got and "email" not in got["user"]


def test_flatten_unflatten_keys(spark, j):
    flat = objrepr_to_dict(j.collect("$.user.flatten_keys()"))
    assert flat == {"id": "1", "name": "Ann", "email": None,
                    "address.city": "Tokyo", "address.zip": "123"}
    j2 = Jetro.from_value(spark, {"flat": {"a.b": 1, "a.c": 2, "d": 3}})
    assert j2.collect("$.flat.unflatten_keys()") == {"a": {"b": 1, "c": 2}, "d": 3}


def test_del_path_empty_path_is_a_compile_error(j):
    from jetro_spark.jql.compiler import CompileError

    with pytest.raises(CompileError):
        j.collect('$.del_path("")')


def test_del_path_below_a_non_object_deletes_nothing(spark):
    doc = {"a": 1, "b": {"c": 2}}
    jn = Jetro.from_value(spark, doc)
    assert jn.collect('$.del_path("a.b")') == doc
    assert jn.collect('$.del_path("q.x")') == doc
    assert jn.collect('$.del_paths(["a.b", "b.c"])') == {"a": 1, "b": {}}


@pytest.mark.parametrize("expr", [
    '$.user.id.set("x", 1)', '$.user.id.update("x", v => v)',
    '$.user.id.del_path("x")', '$.user.id.del_paths(["x"])',
])
def test_path_writes_refuse_a_non_object_receiver(j, expr):
    from jetro_spark.functions.objects import ObjError

    with pytest.raises(ObjError):
        j.collect(expr)
