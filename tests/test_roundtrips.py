"""JVM round trips spent building queries.

Query building is dominated by py4j calls, not Spark work: these tests
pin the settings and caches that keep those calls few — call-site
capture off in ``get_spark``, plan reuse in ``Jetro.collect``, and one
projection for a map under a live sort in relational mode — and that a
repeated ``Jetro.collect`` evaluates its cached plan with no Spark
action."""

from __future__ import annotations

import threading

import pytest

import jetro_spark.jql.engine as engine
from jetro_spark.jql.compiler import CompileError, Compiler
from jetro_spark.jql.engine import Jetro, JetroDocs, JetroTables

# the benchmark's rel_session `sort_take` and `group_by` templates
SORT_TAKE = (
    '$.orders.filter(o_totalprice > 100000 and o_orderpriority == "1-URGENT")'
    ".sort(-o_totalprice, o_orderkey).take(10)"
    ".map({okey: o_orderkey, total: o_totalprice, status: o_orderstatus})")
GROUP_BY = (
    "$.orders.filter(o_totalprice > 100000).sort(-o_orderkey)"
    ".map({okey: o_orderkey, total: o_totalprice, pri: o_orderpriority})"
    ".group_by(pri)")


@pytest.fixture
def py4j_calls(monkeypatch):
    """Counter of py4j commands this thread sends (Java-object releases,
    sent whenever Python's collector runs, are left out)."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME

    calls = {"n": 0}
    me = threading.get_ident()
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        if (threading.get_ident() == me
                and not command.startswith(MEMORY_COMMAND_NAME)):
            calls["n"] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return calls


@pytest.fixture
def compiles(monkeypatch):
    """Counter of Compiler.compile calls."""
    calls = {"n": 0}
    compile_ = Compiler.compile

    def counted(self, *args, **kwargs):
        calls["n"] += 1
        return compile_(self, *args, **kwargs)

    monkeypatch.setattr(Compiler, "compile", counted)
    return calls


def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.mark.parametrize("expr,ceiling", [(SORT_TAKE, 150), (GROUP_BY, 215)],
                         ids=["sort_take", "group_by"])
def test_relational_query_round_trips(spark, tables, py4j_calls, expr,
                                      ceiling):
    # 132 and 190 calls measured; 691 and 685 with call-site capture on and
    # the map-under-sort carry built as a chain of DataFrames
    JetroTables(spark, tables).query(expr)  # first use resolves JVM classes
    py4j_calls["n"] = 0
    JetroTables(spark, tables).query(expr)
    assert 0 < py4j_calls["n"] <= ceiling


DOC = {"orders": [{"id": 1, "total": 10.0, "tags": ["a"]},
                  {"id": 2, "total": 30.0, "tags": ["b", "c"]}]}


@pytest.mark.parametrize("expr,want", [
    ("$.orders.filter(total > 20).map(id)", [2]),
    ("patch $ { orders[*].total: @ * 2 } | @.orders.map(total)",
     [20.0, 60.0]),
], ids=["read", "patch"])
def test_repeated_collect_reuses_the_plan(spark, compiles, expr, want):
    j = Jetro.from_value(spark, DOC)
    assert j.collect(expr) == want
    assert compiles["n"] > 0
    compiles["n"] = 0
    assert j.collect(expr) == want
    assert compiles["n"] == 0
    # and the plan is the one frame() hands out
    assert j.frame(expr) is j.frame(expr)
    assert compiles["n"] == 0


def test_repeated_collect_evaluates_without_a_spark_action(spark,
                                                          monkeypatch):
    from jetro_spark.localrel import WarmValue

    j = Jetro.from_value(spark, DOC)
    expr = "$.orders.filter(total > 20).map(id)"
    assert j.collect(expr) == [2]
    runs = {"n": 0}
    run = WarmValue.run

    def counted(self):
        runs["n"] += 1
        return run(self)

    def first(self):
        raise AssertionError("a warm collect ran DataFrame.first")

    monkeypatch.setattr(WarmValue, "run", counted)
    monkeypatch.setattr(type(j.df), "first", first)
    tracker = spark.sparkContext.statusTracker()
    jobs = len(tracker.getJobIdsForGroup(None) or [])
    for n in range(1, 4):
        assert j.collect(expr) == [2]
        # the handle evaluated the query again: the plan is cached, the
        # result is not
        assert runs["n"] == n
    assert len(tracker.getJobIdsForGroup(None) or []) == jobs


@pytest.mark.parametrize("expr", [
    "$.orders.filter(total > 20).map(id)",
    "patch $ { orders[*].total: @ * 2 } | @.orders.map(total)",
], ids=["read", "patch"])
def test_repeated_collect_round_trips(spark, py4j_calls, expr):
    # 9 calls measured: the projection's apply, toJava, the one-row
    # iterator, the pickler, serveIterator and four reads of the socket
    # address. A first()-based collect made 8 (limit, collectToPython,
    # two call-site updates, the same four reads): what a hit saves is
    # the JVM-side QueryExecution work behind those calls (analysis,
    # every optimizer batch, physical planning), not round trips.
    j = Jetro.from_value(spark, DOC)
    j.collect(expr)
    py4j_calls["n"] = 0
    j.collect(expr)
    assert py4j_calls["n"] == 9


def test_repeated_collect_raises_the_compile_error_again(spark, compiles):
    j = Jetro.from_value(spark, DOC)
    expr = "$.orders.count().filter(@ > 1)"  # array method on a number
    with pytest.raises(CompileError) as first:
        j.collect(expr)
    compiles["n"] = 0
    with pytest.raises(CompileError) as again:
        j.collect(expr)
    assert compiles["n"] == 0
    assert str(again.value) == str(first.value)


def test_rec_is_not_cached(spark):
    j = Jetro.from_value(spark, {"n": 1})
    expr = "$.n.rec(x => x * 2 if x < 10 else x)"
    assert j.collect(expr) == 16
    assert j.collect(expr) == 16
    assert expr not in j._plan_cache


def test_plan_cache_evicts_the_oldest(spark, compiles, monkeypatch):
    monkeypatch.setattr(engine, "PLAN_CACHE_MAX", 2)
    j = Jetro.from_value(spark, DOC)
    exprs = ["$.orders.map(id)", "$.orders.map(total)", "$.orders.count()"]
    for e in exprs:
        j.collect(e)
    assert list(j._plan_cache) == exprs[1:]
    compiles["n"] = 0
    assert j.collect(exprs[0]) == [1, 2]  # evicted: compiled again
    assert compiles["n"] > 0
    assert list(j._plan_cache) == [exprs[2], exprs[0]]
    # the multi-document engine keeps the same bound
    docs = JetroDocs.from_json_strings(spark, spark.createDataFrame(
        [('{"id": 1, "total": 10.0}',)], "j string"), "j")
    exprs = ["$.id", "$.total", "$.total * 2"]
    for e in exprs:
        docs.frame(e)
    assert list(docs._plan_cache) == exprs[1:]
    compiles["n"] = 0
    assert docs.frame(exprs[0]).first()["value"] == 1  # compiled again
    assert compiles["n"] > 0
    assert list(docs._plan_cache) == [exprs[2], exprs[0]]
