"""The builtin registry both compilers share: ``compiler.ALIASES`` spells
each alternative builtin name once, ``compiler.METHODS`` (document mode)
and ``engine.STAGES`` (relational mode) are keyed by canonical names,
and a builtin without a STAGES entry takes the doc fallback.

The registry checks need no Spark session; the alias and reused-handle
checks build plans on the shared test session."""

from __future__ import annotations

import importlib.util
import os
import re
import warnings

import pytest

from jetro_spark.jql.compiler import ALIASES, METHODS
from jetro_spark.jql.engine import STAGES, JetroTables

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Canonical builtins with no relational lowering: a pipeline reaching one
# collapses to the single-task document fallback. Adding or removing a
# lowering changes this list on purpose.
DOC_FALLBACK = [
    "abs", "append", "byte_len", "bytes", "camel_case", "capitalize",
    "ceil", "center", "chars", "chars_of", "collect", "contains_all",
    "contains_any", "dedent", "deep_merge", "defaults", "del_path",
    "del_paths", "ends_with", "entries", "fanout", "filter_keys",
    "filter_values", "flatten_keys", "floor", "from_base64", "from_json",
    "from_pairs", "get_path", "has", "has_path", "html_escape",
    "html_unescape", "indent", "invert", "is_alpha", "is_ascii",
    "is_blank", "is_numeric", "kebab_case", "keys", "lines", "lower",
    "matches", "merge", "missing", "modify", "omit", "or", "pad_left",
    "pad_right", "parse_bool", "parse_float", "parse_int", "pascal_case",
    "pick", "prepend", "re_captures", "re_captures_all", "re_match",
    "re_match_all", "re_match_first", "re_replace", "re_replace_all",
    "re_split", "remove", "rename", "repeat", "replace", "replace_all",
    "round", "scan", "schema", "set", "set_path", "slice", "snake_case",
    "split", "starts_with", "strip_prefix", "strip_suffix", "title_case",
    "to_base64", "to_bool", "to_number", "to_string", "trace_path",
    "transform_keys", "transform_values", "trim", "trim_left",
    "trim_right", "type", "unflatten_keys", "update", "upper",
    "url_decode", "url_encode", "values", "walk", "walk_pre", "words",
    "zip", "zip_longest", "zip_shape",
]


def test_stage_keys_are_canonical_methods():
    for name in STAGES:
        assert name not in ALIASES, f"{name} is an alias"
        assert name in METHODS, f"{name} has no document-mode builtin"


def test_aliases_resolve_to_canonical_methods():
    for alias, name in ALIASES.items():
        assert name not in ALIASES, f"{alias} -> {name} chains aliases"
        assert name in METHODS, f"{alias} -> {name} is no builtin"
        assert METHODS[alias] is METHODS[name]


def test_doc_fallback_set_is_pinned():
    canonical = [n for n in METHODS if n not in ALIASES]
    assert sorted(set(canonical) - set(STAGES)) == DOC_FALLBACK


def _audit_mutations():
    spec = importlib.util.spec_from_file_location(
        "mutation_audit", os.path.join(REPO, "scripts", "mutation_audit.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.MUTATIONS


@pytest.mark.parametrize("mutation", _audit_mutations(),
                         ids=lambda m: m[0])
def test_mutation_patch_sites_match_once(mutation):
    """A refactor that moves a patched line must re-point the audit, not
    silently turn its mutation into PATCH NOT APPLICABLE."""
    name, _semantic, path, old, _new, _gates = mutation
    with open(os.path.join(REPO, path)) as f:
        assert f.read().count(old) == 1, f"{name}: patch site in {path}"


# ------------------------------------------------------------ with Spark


@pytest.fixture(scope="module")
def alias_tables(spark):
    t = spark.createDataFrame(
        [(i, float(v), f"g{i % 3}") for i, v in
         enumerate([3, 1, 4, 1, 5, 9, 2, 7.5])],
        "id long, v double, g string")
    return {"t": t}


# one expression per canonical builtin an alias resolves to; `{m}` is
# the builtin's spelling
ALIAS_EXPRS = {
    "filter": "$.t.{m}(v > 2).take(2)",
    "skip": "$.t.{m}(2)",
    "take_while": "$.t.sort(id).map(v).{m}(x => x < 5)",
    "drop_while": "$.t.sort(id).map(v).{m}(x => x < 5)",
    "find_first": "$.t.{m}(v > 2)",
    "sort": "$.t.{m}(-v).take(3)",
    "reverse": "$.t.sort(id).map(v).{m}()",
    "unique": "$.t.map(g).{m}()",
    "chunk": "$.t.sort(id).map(v).{m}(3)",
    "includes": "$.t.map(v).{m}(7.5)",
    "index_of": "$.t.sort(id).map(v).{m}(7.5)",
    "any": "$.t.{m}(v > 2)",
    "cummax": "$.t.sort(id).map(v).{m}()",
    "cummin": "$.t.sort(id).map(v).{m}()",
}


def _plan(df):
    """Optimized plan with expression ids and the numbered names of
    higher-order-function variables (x_17) normalized away."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"lambda (\w+?)_\d+#", r"lambda \1#",
                  re.sub(r"#\d+", "#", plan))


def _lowered(spark, tables, expr):
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        df = JetroTables(spark, tables).query(expr)
    fell_back = any("no relational lowering" in str(w.message) for w in rec)
    return fell_back, [tuple(r) for r in df.collect()], _plan(df)


@pytest.mark.parametrize("alias,name", sorted(
    (a, n) for a, n in ALIASES.items() if n in STAGES))
def test_alias_lowers_like_canonical(spark, alias_tables, alias, name):
    expr = ALIAS_EXPRS[name]
    want = _lowered(spark, alias_tables, expr.format(m=name))
    got = _lowered(spark, alias_tables, expr.format(m=alias))
    assert not want[0], f"{name} should lower natively"
    assert got == want


def test_union_flag_does_not_outlive_its_query(spark):
    """A set-op union marks its pipeline so positional sinks avoid a
    limit above the Union; a later query on the same handle has no
    Union and keeps the plain limit."""
    t = spark.createDataFrame([(i, float(i)) for i in range(6)],
                              "id long, v double")
    u = spark.createDataFrame([(9, 9.0)], "id long, v double")
    jt = JetroTables(spark, {"t": t, "u": u})
    fresh = _plan(JetroTables(spark, {"t": t, "u": u})
                  .query("$.t.sort(id).take(2)"))
    jt.query("$.t.map(v).union($.u.map(v))")
    reused = jt.query("$.t.sort(id).take(2)")
    plan = _plan(reused)
    assert "Window" not in plan and "GlobalLimit" in plan
    assert plan == fresh
    assert [r["id"] for r in reused.collect()] == [0, 1]


# a limit directly above a Union: the shape Spark 4.1 AQE can drop
_LIMIT_ON_UNION = re.compile(
    r"GlobalLimit \d+\n\s*\+- LocalLimit \d+\n\s*\+- Union")


@pytest.mark.parametrize("sink", ["take(2)", "first()", "skip(1)"])
def test_let_bound_union_keeps_the_row_number_prefix(spark, sink):
    """A union compiled in a let binding shapes the body's positional
    sinks like the un-let spelling: the body shares the binding's query,
    so the sink takes the row_number prefix, not a limit on the Union."""
    t = spark.createDataFrame([(i, float(i)) for i in range(6)],
                              "id long, v double")
    u = spark.createDataFrame([(9, 9.0), (2, 2.0)], "id long, v double")
    tables = {"t": t, "u": u}
    let = JetroTables(spark, tables).query(
        f"let a = $.t.union($.u) in a.{sink}")
    plain = JetroTables(spark, tables).query(f"$.t.union($.u).{sink}")
    plan = _plan(let)
    assert "row_number()" in plan
    assert not _LIMIT_ON_UNION.search(plan), plan
    assert ([tuple(r) for r in let.collect()]
            == [tuple(r) for r in plain.collect()])


@pytest.mark.parametrize("sink", [
    "count(x => x.v > 2)", "any(x => x.v > 2)", "all(x => x.v > 2)",
    "find_index(x => x.v > 2)"])
def test_lambda_sinks_see_one_column_object_rows(spark, sink):
    """A one-column OBJECT pipeline (`map({v: v})`) binds a predicate
    sink's lambda param to the row object, as filter and doc mode do."""
    from jetro_spark.jql.engine import Jetro

    rows = [{"k": i, "v": float(i)} for i in range(5)]
    t = spark.createDataFrame([(r["k"], r["v"]) for r in rows],
                              "k long, v double")
    expr = f"$.s.sort(k).map({{v: v}}).{sink}"
    want = Jetro.from_value(spark, {"s": rows}).collect(expr)
    got = JetroTables(spark, {"s": t}).query(expr).collect()
    assert [r["value"] for r in got] == [want]
