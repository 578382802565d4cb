"""LocalRelation fold (jetro_spark.localrel): the document-mode zero-job
path. One document = one row, so Catalyst's ConvertToLocalRelation rule
should evaluate Project-shaped doc queries eagerly on the driver.
"""

from __future__ import annotations

import json
import threading

import pytest
import test_examples_parity
import test_regression_parity
from pyspark.sql import functions as F

from jetro_spark.jql.engine import Jetro, to_python
from jetro_spark.localrel import fresh_execute, is_local_plan


DOC = {"orders": [{"id": i, "total": 100.0 * i, "status": "shipped" if i % 2 else "new"}
                  for i in range(1, 21)]}


def test_doc_frame_folds_to_local_relation(spark):
    jt = Jetro.from_value(spark, DOC)
    # The base frame itself is LocalRelation-backed...
    assert is_local_plan(jt.df)
    # ...and a Project-shaped query over it folds too: the optimized plan
    # is again a bare LocalRelation, i.e. zero Spark jobs at collect().
    df = jt.frame("$.orders.filter(total > 500).map(id)")
    assert is_local_plan(df)
    assert jt.collect("$.orders.filter(total > 500).map(id)") == [
        i for i in range(6, 21)]


def test_fresh_execute_counts_rows(spark):
    jt = Jetro.from_value(spark, DOC)
    assert fresh_execute(jt.frame("$.orders.count()")) == 1


def test_fresh_execute_propagates_evaluation_errors(spark):
    # A genuine JVM-side evaluation error must raise, not be silently
    # rerouted to the distributed fallback (ADVICE r03).
    df = spark.range(1).selectExpr("assert_true(id > 0) as v")
    with pytest.raises(Exception) as exc_info:
        fresh_execute(df)
    assert exc_info.value is not None


def test_warm_query_counts_match_fresh(spark):
    # The warm compile-once handle must agree with the fresh-QueryExecution
    # path on every bench_lock query shape (count protocol: execute()).
    from jetro_spark.benchdoc import BENCH_QUERIES, synth_doc
    from jetro_spark.localrel import compile_warm

    jt = Jetro.from_value(spark, synth_doc(200, 3))
    for name, expr in BENCH_QUERIES.items():
        wq = compile_warm(jt.frame(expr))
        assert wq is not None, f"{name}: warm path unavailable"
        fresh = fresh_execute(jt.frame(expr))
        assert wq.run() == fresh, name
        # second run re-evaluates (same pinned rows → same count)
        assert wq.run() == fresh, name


def test_warm_query_reevaluates_not_caches_results(spark):
    # Two documents sharing one expression string must produce different
    # counts through their own warm handles — the handle pins rows, not
    # results, and evaluation happens per run().
    a = Jetro.from_value(spark, {"xs": [{"v": i} for i in range(4)]})
    b = Jetro.from_value(spark, {"xs": [{"v": i} for i in range(9)]})
    expr = "$.xs.filter(v >= 0).map(v)"
    assert a.execute(expr) == 1 and b.execute(expr) == 1
    assert a.collect(expr) == [0, 1, 2, 3]
    assert b.collect(expr) == list(range(9))


def test_warm_query_nondeterministic_falls_back(spark):
    # A nondeterministic projection must not get a warm handle (it would
    # need per-run initialization the py4j name-cache pitfall prevents).
    from jetro_spark.localrel import compile_warm
    import pyspark.sql.functions as F

    jt = Jetro.from_value(spark, DOC)
    df = jt.df.select((F.rand() * 10).alias("value"))
    assert compile_warm(df) is None


# ---------------------------------------------- Spark Connect degradation
#
# The classic py4j surface (_jvm/_jdf) is absent under Spark Connect.
# Every localrel entry point must degrade to None there, and doc mode
# must stay CORRECT through its documented fallbacks (a checkpointed
# parse, noop-sink execute). The degraded path is simulated by making
# _jvm_bits raise the same surface-missing error Connect raises; the
# real-Connect-session test runs when grpcio is available, and otherwise
# asserts the capability gap itself (never a skip — see its docstring).


def _break_jvm_surface(monkeypatch):
    import jetro_spark.localrel as L

    def boom(df):
        raise AttributeError("'SparkSession' object has no attribute '_jvm'")
    monkeypatch.setattr(L, "_jvm_bits", boom)


def test_capability_probe(spark):
    from jetro_spark.localrel import has_classic_surface
    assert has_classic_surface(spark) is True

    class FakeConnectSession:
        pass
    assert has_classic_surface(FakeConnectSession()) is False


def test_degraded_entry_points_return_none(spark, monkeypatch):
    from jetro_spark import localrel as L
    _break_jvm_surface(monkeypatch)
    df = spark.range(3)
    assert L.compile_warm(df) is None
    assert L.fresh_execute(df) is None


def test_doc_mode_correct_without_classic_surface(spark, monkeypatch):
    """collect() results must be identical through the degraded path —
    only the zero-job fold is lost, not semantics."""
    _break_jvm_surface(monkeypatch)
    jt = Jetro.from_value(spark, DOC)
    assert not is_local_plan(jt.df)  # the parse is checkpointed instead
    assert jt.collect("$.orders.filter(total > 500).map(id)") == \
        list(range(6, 21))
    assert jt.collect("$.orders.map(total).sum()") == 21000.0
    # execute(): warm handle unavailable -> noop-sink materialization,
    # row count unknowable without a second run -> -1 by contract
    assert jt.execute("$.orders.map(id)") == -1


def test_relational_fallback_size_check_degrades(spark, monkeypatch):
    """The doc-fallback size refusal needs a plan-size estimate; without
    one (Spark Connect) it must warn-and-continue, not crash — even with
    a tiny ceiling configured."""
    import jetro_spark.jql.engine as E
    monkeypatch.setenv("JETRO_FALLBACK_MAX_BYTES", "10")
    monkeypatch.setattr(E, "plan_size_estimate", lambda df: None)
    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "k long, v double")
    jt = E.JetroTables(spark, {"s": df})
    with pytest.warns(UserWarning, match="no relational lowering"):
        out = jt.query("$.s.sort(k).map(v).accumulate((a, x) => a * x, 1.0)")
        assert [r["v"] for r in out.collect()] == [2.0, 6.0]


def _grpc_available() -> bool:
    try:
        import grpc  # noqa: F401
        return True
    except ImportError:
        return False


def test_doc_mode_over_real_connect_session_or_probe():
    """Both legs of the Connect matrix, never a skip: with grpcio
    importable, stand up a real local Connect session and run doc mode
    over it; without it, ASSERT the gap is precisely the grpcio
    capability (pyspark's own Connect package present, failing with its
    PACKAGE_NOT_INSTALLED grpcio error) — so a packaging regression
    (Connect module missing/broken for any other reason) fails the test
    instead of hiding behind a skip. The degradation semantics
    themselves are covered by the simulated tests above, which exercise
    the exact surface-missing path a Connect session takes.

    Blocker status (r8): grpcio is absent here and package installation
    is prohibited in this build environment (no pip/apt by policy), so
    the live leg stays environment-blocked, not code-blocked — any
    environment that ships grpcio runs it with no code change."""
    if not _grpc_available():
        with pytest.raises(ImportError, match="grpcio"):
            import pyspark.sql.connect.session  # noqa: F401
        return
    from pyspark.sql import SparkSession
    remote = SparkSession.builder.remote("local[2]").getOrCreate()
    try:
        from jetro_spark.localrel import has_classic_surface
        assert has_classic_surface(remote) is False
        jt = Jetro.from_value(remote, DOC)
        assert jt.collect("$.orders.filter(total > 500).map(id)") == \
            list(range(6, 21))
    finally:
        remote.stop()


def test_local_doc_frame_zero_job_and_values(spark):
    """The r7 zero-job ingest: builds a LocalRelation without any Spark
    job (no data-bearing task), UnsafeRow-backed."""
    from pyspark.sql import functions as F

    from jetro_spark.localrel import is_local_plan, local_doc_frame
    from jetro_spark.jql.engine import infer_schema

    doc = {"a": [1, 2, 3], "b": {"x": "y"}, "c": 1.5, "d": None}
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = local_doc_frame(spark, doc, infer_schema(doc))
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert df is not None
    assert after == before          # construction launched NO job
    assert is_local_plan(df)
    row = df.first()["__doc"]
    assert list(row["a"]) == [1, 2, 3]
    assert row["b"]["x"] == "y"
    assert row["c"] == 1.5
    assert row["d"] is None


def test_variant_doc_ingests_with_zero_jobs(spark):
    """A document with variant fields (a heterogeneous array, a field
    whose type differs across elements) takes the same zero-job parse
    as any other document, and a null element of a variant array stays
    a SQL NULL."""
    doc = {"xs": [1, "x", True, {"a": 1}, None],
           "ys": [{"v": 1}, {"v": "s"}, {"v": None}]}
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    jt = Jetro.from_value(spark, doc)
    assert len(tracker.getJobIdsForGroup(None) or []) == before
    assert is_local_plan(jt.df)
    assert jt.collect("$.xs") == [1, "x", True, {"a": 1}, None]
    assert jt.collect("$.ys.map(v)") == [1, "s", None]
    assert jt.collect("$.xs.filter(@ == null).len()") == 1
    assert jt.collect("$.ys.filter(v == null).len()") == 1


def test_unserializable_value_raises_type_error(spark):
    with pytest.raises(TypeError):
        Jetro.from_value(spark, {"a": object()})


def test_null_parse_raises(spark, monkeypatch):
    """A parse that evaluates to null is an error, never an empty
    document. FAILFAST already refuses a null root; from_json maps a
    blank text to null without parsing it, which the guard catches."""
    from types import SimpleNamespace

    from pyspark.sql import types as T

    from jetro_spark import localrel as L

    schema = T.StructType([T.StructField("a", T.LongType())])
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        L.local_doc_frame(spark, None, schema)
    monkeypatch.setattr(L, "json", SimpleNamespace(dumps=lambda v: " "))
    with pytest.raises(Exception, match="document parsed to null"):
        L.local_doc_frame(spark, {"a": 1}, schema)


def test_eval_local_project_rejects_non_project(spark):
    from jetro_spark.localrel import eval_local_project

    # an aggregate over a table scan is not Project-over-OneRow/Local
    df = spark.range(10).groupBy().count()
    assert eval_local_project(df) is None


# ------------------------------------------ warm collect (WarmValue)


def _parity_cases() -> list[tuple[dict, str]]:
    """Every non-xfail (document, expression) of the two parity suites."""
    reg = test_regression_parity
    cases = [(test_examples_parity.WORLD, e)
             for e, _ in test_examples_parity.CASES]
    cases += [(json.loads(reg.BOOKS_JSON if doc == "BOOKS" else doc), e)
              for doc, e, _, xfail in reg.CASES if not xfail]
    return cases


_PARITY = _parity_cases()
_PARITY_ENGINES: dict[str, Jetro] = {}


@pytest.mark.parametrize("doc,expr", _PARITY,
                         ids=[f"{i}_{e[:45]}" for i, (_, e)
                              in enumerate(_PARITY)])
def test_warm_collect_matches_first(spark, doc, expr):
    key = json.dumps(doc)
    if key not in _PARITY_ENGINES:
        _PARITY_ENGINES[key] = Jetro.from_value(spark, doc)
    jt = _PARITY_ENGINES[key]
    got = jt.collect(expr)
    assert jt._plan_cache[expr].value is not None  # the warm path ran
    # json.dumps also tells 1 from 1.0 and compares object key order
    assert json.dumps(got) == json.dumps(
        to_python(jt.frame(expr).first()["value"]))


@pytest.mark.parametrize("build", [
    # a nondeterministic projection: the fold would initialize it per query
    lambda jt: jt.df.select((F.rand() * 10).alias("value")),
    # not a Project over the document
    lambda jt: jt.df.groupBy().count(),
], ids=["nondeterministic", "aggregate"])
def test_value_handle_refuses_what_the_fold_does_not_evaluate(spark, build):
    from jetro_spark.localrel import compile_value

    assert compile_value(build(Jetro.from_value(spark, DOC))) is None


def test_collect_keeps_first_where_there_is_no_value_handle(spark):
    # explode rebuilds elements with withField: its UpdateFields is
    # evaluable only once an optimizer rule rewrites it, so the fold
    # refuses the project list and collect runs first()
    jt = Jetro.from_value(spark, DOC)
    expr = "$.orders.take(2).map({id, tags: [status]}).explode(tags)"
    want = [{"id": 1, "tags": "shipped"}, {"id": 2, "tags": "new"}]
    assert jt.collect(expr) == want
    assert jt._plan_cache[expr].value is None
    assert jt.collect(expr) == want


def test_collect_without_classic_surface_runs_first(spark, monkeypatch):
    exprs = ["$.orders.filter(total > 500).map(id)",
             "$.orders.map({id, status}).take(2)",
             "patch $ { orders[*].total: @ * 2 } | @.orders.map(total).sum()"]
    want = [Jetro.from_value(spark, DOC).collect(e) for e in exprs]
    _break_jvm_surface(monkeypatch)
    jt = Jetro.from_value(spark, DOC)
    firsts = {"n": 0}
    first = type(jt.df).first

    def counted(self):
        firsts["n"] += 1
        return first(self)

    monkeypatch.setattr(type(jt.df), "first", counted)
    for n in (1, 2):  # the failed build is remembered, not retried
        assert [jt.collect(e) for e in exprs] == want
        assert firsts["n"] == n * len(exprs)
    assert all(jt._plan_cache[e].value is None for e in exprs)


def test_threads_share_one_warm_value(spark, monkeypatch):
    # higher-order functions keep their lambda variables in the shared
    # expression tree: the handle's lock keeps concurrent evaluations
    # from reading each other's elements, and the threads' first calls
    # build one handle between them
    import sys

    import jetro_spark.jql.engine as engine

    builds = {"n": 0}
    compile_value = engine.compile_value

    def counted(df):
        builds["n"] += 1
        return compile_value(df)

    monkeypatch.setattr(engine, "compile_value", counted)
    jt = Jetro.from_value(spark, DOC)
    expr = ("$.orders.filter(total > 500)"
            ".map({id, status, double: total * 2})")
    want = to_python(jt.frame(expr).first()["value"])
    n_threads, calls = 6, 10  # more threads than a 4-core machine has cores
    start = threading.Barrier(n_threads)
    got: list = []

    def work():
        start.wait(timeout=60)
        got.extend(jt.collect(expr) for _ in range(calls))

    threads = [threading.Thread(target=work) for _ in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert got == [want] * (n_threads * calls)
    assert builds["n"] == 1
