"""Mechanical plan audit over every table-backed gate query.

The scale claims in the README ("no all-pairs joins outside explicit
brute-force oracles, filters push to the scan, broadcasts where
intended") are enforced here, not just asserted in prose: each gate
query's physical plan is rendered and greped. A regression that turns a
bucketed candidate join into a nested loop, or un-pushes a scan filter,
fails this file — the plan IS the contract.

Doc-mode queries (benchlock, most jql rows) are excluded: they run over
a one-row LocalRelation where join strategy and pushdown are meaningless.
"""

from __future__ import annotations

import pytest

from jetro_spark.gate import (analytics, joins, jql, llm, ranking,
                              relational, scalars, streaming, timeseries)

SF = "/root/testdata/sf0.001"

_MODULES = (relational, joins, scalars, analytics, timeseries, llm,
            ranking, streaming)

# JQL-compiled relational rows: the compiler, not hand-written DataFrame
# code, must still produce pushdown-eligible, join-extractable plans
_JQL_TABLE_ROWS = ("jql_filter_map", "jql_sort_take", "jql_equi_join",
                   "jql_comp_join", "jql_count_by", "jql_accumulate",
                   "jql_enumerate")

# Brute-force-by-design rows: the all-pairs shape is the point (exact
# baselines over a broadcast side); rollup_gapfill's cross join builds
# the dense grid from two AGGREGATED metadata-sized frames (distinct
# keys x bucket span), never from the input; ann_ivf_trained's NLJ is
# its IN-PLAN exact-recall baseline (brute_force_topk for the within_tol
# verdict, r6) — the IVF retrieval path itself stays equi-join-only
# (plan-asserted by the seeded ann_ivf row). Everything else must never
# plan an all-pairs join.
_ALLPAIRS_OK = {"ann_topk", "embed_neardup", "rollup_gapfill",
                "ann_ivf_trained",
                # ann_pq embeds the same in-plan brute-force recall
                # baseline as ann_ivf_trained; the PQ retrieval path
                # itself is equi-join + window only
                "ann_pq",
                # bm25/pmi/ngram_lm attach corpus totals (N+Σdl, the
                # token totals, |V|) by joining a ONE-ROW aggregate
                # frame on a literal key; Catalyst folds the
                # always-true condition and plans a 1-row-broadcast
                # nested loop — the canonical scalar attach (build side
                # is an Aggregate, never input data; asserted below in
                # test_scalar_attach_builds_are_aggregates)
                "bm25_topk", "pmi_colloc", "ngram_lm",
                # pipeline_prep2 composes ngram_lm and inherits its
                # 1-row |V| attach
                "pipeline_prep2",
                # tfidf_embed attaches corpus size N as the same 1-row
                # aggregate scalar attach (r9); temp_mixture attaches
                # its two normalizers (total rows, sum p^alpha) the
                # same way over a group-cardinality frame (r9)
                "tfidf_embed", "temp_mixture"}

# mapInPandas/stateful rows whose plan is dominated by the Python stage.
_SKIP = {"mm_decode", "mm_frames"}


def _table_queries():
    out = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    for name in _JQL_TABLE_ROWS:
        out[name] = jql.QUERIES[name]
    for name in _SKIP:
        out.pop(name, None)
    return out


@pytest.fixture(scope="module")
def plans(spark):
    rendered = {}
    for name, fn in _table_queries().items():
        df = fn(spark, SF)
        qe = df._jdf.queryExecution()
        rendered[name] = (qe.executedPlan().toString()
                          + "\n" + qe.optimizedPlan().toString())
    return rendered


def test_no_cartesian_products(plans):
    offenders = [n for n, p in plans.items()
                 if "CartesianProduct" in p and n not in _ALLPAIRS_OK]
    assert offenders == []


def test_nested_loop_joins_only_where_intended(plans):
    offenders = [n for n, p in plans.items()
                 if "BroadcastNestedLoopJoin" in p and n not in _ALLPAIRS_OK]
    assert offenders == []


def test_scalar_attach_builds_are_aggregates(plans):
    """bm25_topk / pmi_colloc are allow-listed for BNLJ ONLY because
    their nested-loop build side is a one-row global aggregate (corpus
    totals). Pin that: every such plan must contain a grouping-key-free
    HashAggregate (the 1-row frame) and at most the expected number of
    nested loops — a regression that nested-loops actual DATA would
    inflate the count or drop the global aggregate."""
    for name, n_max in (("bm25_topk", 1), ("pmi_colloc", 1),
                        ("tfidf_embed", 1)):
        p = plans[name]
        assert "HashAggregate(keys=[]" in p, f"{name}: no 1-row aggregate"
        assert p.count("BroadcastNestedLoopJoin") <= n_max, name
        assert "CartesianProduct" not in p, name
    # ngram_lm (r14), and pipeline_prep2 which embeds it: the
    # self-trained path attaches V (vocab size) as a window count
    # RIDING the vocab-sized unigram aggregate instead of a second
    # aggregate over a duplicated corpus subtree — so the plan has NO
    # scalar attach at all anymore. Pin the new shape: zero nested
    # loops, and the window-count is present (a global Window over the
    # vocab aggregate, which is bounded — NOT corpus data).
    # temp_mixture (r14) is the same rewrite one step further: BOTH
    # normalizers (total rows, Σp^α) ride the group aggregate as
    # unbounded-window sums over the ≤|groups|-row frame — no one-row
    # aggregate, no broadcast attach, one corpus pass
    # (test_llm.py::test_temperature_weights_single_input_pass pins the
    # single-scan property).
    for name in ("ngram_lm", "pipeline_prep2", "temp_mixture"):
        p = plans[name]
        assert "BroadcastNestedLoopJoin" not in p, f"{name}: attach back?"
        assert "CartesianProduct" not in p
        assert "Window" in p, f"{name}: vocab-count window missing"


def test_filters_push_to_parquet_scan(plans):
    # rows whose defining predicate must reach the scan (PushedFilters
    # non-empty => Parquet row-group/page pruning applies at 100 TB)
    import re
    for name in ("filter_map", "join3_revenue", "asof_join", "range_join",
                 "join_semi", "jql_filter_map"):
        plan = plans[name]
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert pushed, f"{name}: no pushdown section in scan"
        assert any(s.strip() for s in pushed), f"{name}: nothing pushed"


def test_explicit_broadcasts_survive(plans):
    # dimension-side broadcast hints must materialize as broadcast joins
    for name in ("equi_join", "join3_revenue", "join_left", "salted_join"):
        assert "BroadcastHashJoin" in plans[name] or \
               "BroadcastExchange" in plans[name], f"{name}: broadcast lost"


# JQL pipeline rows whose SEMANTICS are a single ordered sequence
# (global running accumulation / enumeration): the un-partitioned window
# is the operator's definition, documented in engine._window_fn; the
# keyed scale-parallel forms live in operators/analytics.py.
_GLOBAL_SEQ_OK = {"jql_accumulate", "jql_enumerate", "jql_sort_take"}


def test_no_single_partition_windows_over_data(plans):
    """An un-partitioned window funnels the whole dataset through one
    task. The only legal shapes: (a) the metadata prefix in
    operators/prefix.py — un-partitioned but ordered by __pid over a
    ≤shuffle-partitions-row totals table; (b) declared single-sequence
    JQL rows."""
    offenders = []
    for name, plan in plans.items():
        if name in _GLOBAL_SEQ_OK:
            continue
        for line in plan.splitlines():
            s = line.strip().lstrip(":+- ")
            if not s.startswith("Window "):
                continue
            # `Window [exprs], [part], [order]`: with only 2 bracket
            # groups the 2nd is EITHER a partition spec (unordered
            # window — fine, it shuffles by key) or an order spec
            # (un-partitioned window — the funnel). Order specs carry
            # ASC/DESC direction tokens; partition specs never do.
            if s.count("], [") != 1:
                continue
            last = s.rsplit("], [", 1)[1]
            if (" ASC" in last or " DESC" in last) and "__pid" not in last:
                offenders.append((name, s[:120]))
    assert offenders == [], offenders


def test_asof_join_is_single_window_not_join(plans):
    # the union+window formulation must NOT contain any join operator,
    # and tie determinism must ride the window SORT KEY, never a
    # pre-aggregation of the right side (the r5 groupBy dedup cost an
    # extra shuffle and +30% on the bench — r6 regression guard)
    p = plans["asof_join"]
    assert "Window" in p
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin",
               "HashAggregate", "SortAggregate", "ObjectHashAggregate"):
        assert op not in p, f"asof_join: unexpected {op}"


def test_range_join_is_hash_join_on_bins(plans):
    # the residual point-in-interval predicate must ride an equi-join
    # (hash or sort-merge on __bin), never a nested loop
    p = plans["range_join"]
    assert ("BroadcastHashJoin" in p or "SortMergeJoin" in p
            or "ShuffledHashJoin" in p)


def _depth(line: str) -> int:
    import re
    return len(re.match(r"^[\s:+|-]*", line).group(0))


def unguarded_limit_above_union(plan: str) -> bool:
    """True when an optimized plan carries a GlobalLimit whose
    single-child chain (LocalLimit/Sort/Project only) reaches a Union
    and NO Window sits above the GlobalLimit.

    That bare shape is the Spark 4.1 AQE exposure (r12 soak catch,
    SCALE.md "AQE Sort+GlobalLimit-above-Union drop"): AQE
    re-optimization can DROP a top-level Sort+GlobalLimit above a Union
    after one branch materializes empty. The engine therefore lowers
    every positional pick over a union-carrying pipeline through a
    row_number WINDOW filter (engine._ordered_prefix): Catalyst's
    LimitPushDownThroughWindow re-derives a Sort+GlobalLimit BELOW the
    window as an accelerator, but the window+filter above it re-enforce
    exactly the same rows — if AQE drops the limit, the result is
    unchanged. A window-guarded limit is therefore fine; an unguarded
    one is the bug surface."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "GlobalLimit" not in line:
            continue
        d0 = _depth(line)
        hit = False
        for j in range(i + 1, len(lines)):
            if _depth(lines[j]) <= d0:
                break
            name = lines[j].lstrip(" :+|-")
            if name.startswith("Union"):
                hit = True
                break
            if not name.startswith(("LocalLimit", "Sort", "Project")):
                break
        if not hit:
            continue
        dcur, guarded = d0, False
        for j in range(i - 1, -1, -1):
            dj = _depth(lines[j])
            if dj < dcur:  # ancestor chain: strictly shallower lines
                dcur = dj
                if lines[j].lstrip(" :+|-").startswith("Window"):
                    guarded = True
                    break
        if not guarded:
            return True
    return False


@pytest.fixture(scope="module")
def opt_plans(spark):
    rendered = {}
    for name, fn in _table_queries().items():
        df = fn(spark, SF)
        rendered[name] = df._jdf.queryExecution().optimizedPlan().toString()
    return rendered


def test_no_unguarded_limit_above_union_in_gate(opt_plans):
    offenders = [n for n, p in opt_plans.items()
                 if unguarded_limit_above_union(p)]
    assert offenders == []


def test_no_unguarded_limit_above_union_in_setop_sinks(spark):
    """Every engine lowering that composes a positional pick above a
    set-op union — first/take/skip/nth/last/min_by/max_by/[i]/[a:b]/
    find_first, ordered and unordered — must come out window-guarded
    (engine.Query.has_union routes them through _ordered_prefix)."""
    import warnings

    from jetro_spark.jql.engine import JetroTables

    rows = [(i, float((i * 37) % 101), f"g{i % 3}") for i in range(17)]
    s = spark.createDataFrame(rows, "k long, v double, g string")
    u = spark.createDataFrame(rows[:5] + [(99, 7.5, "g9")],
                              "k long, v double, g string")
    exprs = [
        '$.s.sort(k).union($.u).first()',
        '$.s.sort(k).union($.u).take(3)',
        '$.s.sort(k).union($.u).skip(18)',
        '$.s.sort(k).union($.u).nth(2)',
        '$.s.sort(k).union($.u).nth(-2)',
        '$.s.sort(k).union($.u).last(2)',
        '$.s.sort(k).union($.u).last()',
        '$.s.sort(k).union($.u).min_by(v)',
        '$.s.sort(k).union($.u).max_by(k)',
        '$.s.sort(k).union($.u)[1]',
        '$.s.sort(k).union($.u)[2:5]',
        '$.s.sort(k).union($.u).find_first(x => x.v > 7.0)',
        '$.s.union($.u).take(4)',
        '$.s.sort(k).union($.u).take(5).last(2)',
    ]
    offenders = []
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        for e in exprs:
            df = JetroTables(spark, {"s": s, "u": u}).query(e)
            op = df._jdf.queryExecution().optimizedPlan().toString()
            if unguarded_limit_above_union(op):
                offenders.append(e)
    assert offenders == []


def test_dedup_spans_exchanges_never_carry_gram_text(plans):
    """r9: dedup_spans and dedup_lines elect owners on a 128-bit
    fingerprint — the gram/line STRING must be projected away before
    ANY exchange (r8 shuffled ~n x corpus bytes of gram text through
    the election, and the whole kept-line stream through the line
    rebuild). Every Exchange/aggregate/join line must be text-free."""
    for name, marker in (("dedup_spans", "__g#"),
                         ("dedup_lines", "__ln#")):
        p = plans[name]
        offenders = [
            line.strip()[:140] for line in p.splitlines()
            if line.strip().lstrip(":+- ").startswith(
                ("Exchange ", "HashAggregate", "SortAggregate",
                 "ObjectHashAggregate", "SortMergeJoin",
                 "BroadcastHashJoin", "ShuffledHashJoin"))
            and marker in line]
        assert offenders == [], (name, offenders)
        # the fingerprint keys ARE what shuffles / joins
        assert "__h1" in p and "__h2" in p, name


def test_no_computed_key_reeval_in_filters(plans):
    """r14: an equi-join key (or join-condition column) computed by an
    expensive expression gets an inferred isnotnull constraint pushed
    BELOW its defining projection — the whole expression then runs a
    second time per row inside a Filter. Caught live on ann_ivf (the
    16-centroid argmax fold appeared verbatim in the pre-join Filter)
    and simhash_pairs (the md5 signature fold); both fixed by pinning
    the computed column under a one-element-explode Generate, which
    predicate pushdown cannot cross. Pin the CLASS engine-wide: no
    gate plan may carry a fold/tokenize-family expression inside an
    isnotnull."""
    markers = ("isnotnull(aggregate(", "isnotnull(-array_max(",
               "isnotnull(array_max(", "isnotnull(xxhash64(",
               "isnotnull(conv(", "isnotnull(md5(",
               "isnotnull(transform(")
    offenders = {n: [m for m in markers if m in p]
                 for n, p in plans.items()}
    offenders = {n: hits for n, hits in offenders.items() if hits}
    assert offenders == {}


def test_r14_pass_reduction_shapes(plans, spark):
    """r14 single-pass rewrites, pinned by scan count / exchange
    marker so a regression that re-forks the corpus subtree fails
    mechanically (plan subtrees are never shared — a re-fork IS a
    whole extra corpus pass):

    - ann_ivf: the corpus vector+norm ride the cell equi-join (no
      second corpus scan joined back on nid) — 3 FileScans total, two
      of which are the 10-row query side.
    - bm25_topk: tf and corpus-stats share ONE tokenize via the
      doc-level repartition (REPARTITION_BY_COL exchange present;
      its reuse is runtime-AQE: the ReusedExchange shows only in the
      final adaptive plan, after execution).
    - set_ops: both memberships fold into one aggregate — never the
      old 4-scan intersect/subtract chain.
    - check_constraints: row checks ride the uniqueness groupBy —
      exactly one FileScan (module outside this fixture's set, built
      here directly)."""
    assert plans["ann_ivf"].count("FileScan parquet") == 3
    p = plans["bm25_topk"]
    assert p.count("FileScan parquet") == 2
    assert "REPARTITION_BY_COL" in p
    assert plans["set_ops"].count("FileScan parquet") <= 2
    from jetro_spark.gate import profiling
    df = profiling.QUERIES["check_constraints"](spark, SF)
    qe = df._jdf.queryExecution()
    pcc = (qe.executedPlan().toString()
           + "\n" + qe.optimizedPlan().toString())
    assert pcc.count("FileScan parquet") == 1
