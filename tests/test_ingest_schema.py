"""Document schema inference (engine.infer_schema / engine.Shapes).

A document is walked once into interned shapes and each distinct shape
gets one Spark type, so inference cost follows the number of distinct
shapes, not the number of elements. These tests pin that mechanism with
counts, the schema's independence from element multiplicity and order,
exact round trips, and the conflict rule: shapes that do not unify widen
to variant at whatever depth they meet.
"""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import types as T

from jetro_spark.benchdoc import synth_doc
from jetro_spark.jql.engine import Jetro, JetroDocs, Shapes, infer_schema
from test_differential_docs import DOCS as DIFF_DOCS
from test_fuzz import DOC as FUZZ_DOC


def _types_built(doc) -> int:
    shapes = Shapes()
    shapes.dtype(shapes.shape(doc))
    return shapes.built


def test_types_built_do_not_grow_with_the_document():
    # root, meta, orders array, order, customer, address, items array, item
    assert _types_built(synth_doc(100, 6)) == 8
    assert _types_built(synth_doc(5000, 6)) == 8


def test_uniform_array_schema_ignores_multiplicity_and_order():
    orders = synth_doc(40, 6)["orders"]
    want = infer_schema({"orders": orders}).json()
    shuffled = orders * 3
    random.Random(1).shuffle(shuffled)
    assert infer_schema({"orders": shuffled}).json() == want
    assert infer_schema({"orders": orders[:1]}).json() == want


def test_null_element_is_part_of_the_shape():
    # [1, 2] and [1, null] have the same distinct non-null shapes; only
    # the null flag tells their types apart
    st = infer_schema({"a": [1, 2], "b": [1, None], "c": [[1], [2, None]]})
    assert st["a"].dataType == T.ArrayType(T.LongType(), False)
    assert st["b"].dataType == T.ArrayType(T.LongType(), True)
    assert st["c"].dataType == T.ArrayType(T.ArrayType(T.LongType(), True),
                                           False)


def test_exact_nullability_of_object_arrays():
    st = infer_schema({"xs": [{"a": 1, "b": None}, {"a": 2.5}]})
    elem = st["xs"].dataType
    assert not elem.containsNull
    assert [(f.name, f.dataType, f.nullable)
            for f in elem.elementType.fields] == [
        ("a", T.DoubleType(), False), ("b", T.NullType(), True)]


@pytest.mark.parametrize("doc", [
    # conflicting element shapes one array level down: the parent typed
    # the inner arrays void and collected nulls
    {"xs": [[1, "x"], [2], None]},
    {"r": [[False], [False], [2.5]]},
    {"r": [{"e": [[0.0, "x"], None]}, {"e": [[1.0]]}]},
    # an empty object among nulls was typed void too
    {"r": [{}, None]},
])
def test_nested_heterogeneous_arrays_keep_their_values(spark, doc):
    assert Jetro.from_value(spark, doc).collect("$") == doc


def test_struct_conflict_below_the_top_level_widens_to_variant(spark):
    doc = {"ys": [{"a": {"c": 1}}, {"a": {"c": False}}]}
    c = infer_schema(doc)["ys"].dataType.elementType["a"].dataType["c"]
    assert isinstance(c.dataType, T.VariantType)
    jt = Jetro.from_value(spark, doc)
    assert jt.collect("$..c") == [1, False]
    assert jt.collect("$") == doc


@pytest.mark.parametrize("doc", DIFF_DOCS + [FUZZ_DOC],
                         ids=lambda d: json.dumps(d)[:40])
def test_round_trip(spark, doc):
    assert Jetro.from_value(spark, doc).collect("$") == doc


def test_sampled_schema_is_the_exact_union_of_document_shapes(spark):
    docs = [{"a": 1, "b": "x"}, {"a": 2.5, "c": [1]}, {"a": 3, "b": True},
            {"a": 1, "b": "x"}]
    df = spark.createDataFrame([(json.dumps(d),) for d in docs], "js string")
    st = JetroDocs.from_json_strings(spark, df, "js").schema
    assert [(f.name, f.dataType) for f in st.fields] == [
        ("a", T.DoubleType()), ("b", T.VariantType()),
        ("c", T.ArrayType(T.LongType(), True))]
