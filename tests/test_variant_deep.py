"""Schemaless (VariantType) deep search — `$..x` / `$..` without a
static schema, via the bounded-depth runtime variant walk
(compiler._variant_nodes). Reference walks arbitrary Val trees
(exec/structural.rs); conflicting static leaf types now unify to
variant instead of a lossy string cast.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pyspark.sql.types as T

from jetro_spark.jql.compiler import TC, Compiler, Env
from jetro_spark.jql.engine import Jetro, to_python
from jetro_spark.jql.parser import parse


def J(spark, doc, expr):
    return Jetro.from_value(spark, doc).collect(expr)


def variant_q(spark, json_doc: str, expr: str):
    df = spark.range(1).select(F.parse_json(F.lit(json_doc)).alias("doc"))
    root = TC(F.col("doc"), T.VariantType(), doc=True)
    tc = Compiler().compile(parse(expr), Env(root=root))
    return to_python(df.select(tc.col.alias("v")).first()["v"])


def test_variant_root_descend(spark):
    doc = '{"a":{"x":1,"b":[{"x":2},{"y":3}]},"x":[4,5]}'
    # pre-order: root's x ([4,5]), then a.x, then a.b[0].x
    assert variant_q(spark, doc, "$..x") == [[4, 5], 1, 2]
    assert variant_q(spark, doc, "$..x.len()") == 3
    assert variant_q(spark, doc, "$..y.sum()") == 3.0


def test_variant_root_descend_all(spark):
    doc = '{"a":{"x":1,"b":[{"x":2},{"y":3}]},"x":[4,5]}'
    df = spark.range(1).select(F.parse_json(F.lit(doc)).alias("doc"))
    root = TC(F.col("doc"), T.VariantType(), doc=True)
    tc = Compiler().compile(parse("$.."), Env(root=root))
    # root, a, a.x, a.b, b[0], b[0].x, b[1], b[1].y, x-arr, 4, 5
    assert df.select(F.size(tc.col).alias("n")).first()["n"] == 11


def test_variant_null_valued_key_is_still_a_hit(spark):
    # presence is structural (map_contains_key), not value-based
    assert variant_q(spark, '{"x": null, "a": {"x": 1}}', "$..x") == [None, 1]


def test_variant_inside_static_schema(spark):
    # mixed-type array infers array<variant>; descend crosses into it
    doc = {"v": [1, {"x": 5, "sub": {"x": 7, "arr": [{"x": 9}, 3]}}, "s"]}
    assert J(spark, doc, "$..x") == [5, 7, 9]
    assert J(spark, doc, "$..x.sum()") == 21.0


def test_conflicting_leaf_types_keep_their_kind(spark):
    # was: unify failure → StringType casts ('1' and 'hello');
    # now: variant keeps the dynamic kind per leaf
    doc = {"a": {"x": 1}, "b": {"x": "hello"}}
    got = J(spark, doc, "$..x")
    assert got == [1, "hello"]
    assert isinstance(got[0], int) and isinstance(got[1], str)


def test_depth_bound_does_not_truncate_reasonable_docs(spark):
    nested = '{"x": {"x": {"x": {"x": {"x": {"x": 1}}}}}}'
    assert variant_q(spark, nested, "$..x.len()") == 6


def test_variant_numbers_collect_as_jetro_numbers(spark):
    # the variant stores 2.5 (and any number outside the long range) as
    # a decimal; collected, it is a float or an int like every other
    # number, so the result is JSON again
    j = Jetro.from_value(spark, {"r": [1, "x", 2.5, {"b": [0.25, 7]},
                                       12345678901234567890]})
    assert j.collect("$.r[2]") == 2.5
    got = j.collect("$.r")
    assert json.loads(json.dumps(got)) == [1, "x", 2.5, {"b": [0.25, 7]},
                                           12345678901234567890]
    assert [type(x) for x in got[:3]] == [int, str, float]
    assert type(got[4]) is int
    assert json.dumps(j.collect("$.r[3].b")) == "[0.25, 7]"
