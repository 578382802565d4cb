"""Correctness-gate query registry.

Each gate module contributes ``QUERIES: dict[str, Callable[(spark, sf_dir)
-> DataFrame]]`` and ``ORACLES: dict[str, str]`` (DuckDB ANSI SQL over the
driver's pre-registered views). ``__spark_entry__.py`` aggregates them.

Conventions (driver compare = row-count + schema + order-insensitive
value-hash, columns sorted by name):
- every computed column aliased IDENTICALLY in Spark and SQL;
- doubles rounded (2-4 dp) on BOTH sides so floating-point accumulation
  order can't flip the hash;
- DuckDB integer sums cast to BIGINT (DuckDB widens to HUGEINT);
- timestamps never output raw — derive epoch longs / formatted strings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def _modules():
    from jetro_spark.gate import (
        analytics,
        benchlock,
        hof,
        joins,
        jql,
        llm,
        profiling,
        ranking,
        relational,
        scalars,
        streaming,
        timeseries,
    )

    return (relational, joins, scalars, analytics, timeseries, profiling,
            jql, llm, ranking, hof, streaming, benchlock)


# A correctness run that samples only the FIRST 50 registry rows reads
# this tier first: at least one representative per operator family, so
# the sample spans the whole surface instead of exhausting itself on the
# first two modules. A row rotated out still runs in the full local gate
# (scripts/check_oracle.py); tiering changes sampling coverage only.
_TIER1 = [
    # relational core
    "filter_map", "sort_take", "group_agg", "join3_revenue", "count_by",
    "index_by", "max_by", "pivot", "implode", "approx_count_distinct",
    # extended joins
    "equi_join", "asof_join", "join_semi",
    # scalar functions
    "string_case", "regex_ops",
    # corpus-statistics ranking
    "bm25_topk",
    # window builtins
    "win_lag_lead",
    # time series
    "time_bucket", "funnel_step",
    # profiling / contracts
    "group_quantiles", "profile_table", "check_constraints",
    # JQL language (doc + relational modes)
    "jql_filter_map", "jql_patch", "jql_window", "jql_comprehension",
    "jql_variant_deep", "deep_search", "path_ops",
    # LLM-pipeline operators: dedup, semantic dedup, sampling,
    # similarity, ranking, text, multimodal
    "dedup_exact", "dedup_lsh", "dedup_cluster", "dedup_lines",
    "dedup_spans",
    "semantic_dedup", "semantic_keep",
    "temp_mixture",
    "ann_ivf_trained", "ann_pq", "tfidf_embed", "ngram_lm", "pii_mask",
    "gram_overlap", "pipeline_demo",
    "mm_resize", "quality_logit",
    # HOFs / streaming / doc-suite
    "win_tumbling", "stream_interval_join", "stream_state", "doc_bl_q5",
]


def _ordered(merged: dict) -> dict:
    head = {k: merged[k] for k in _TIER1 if k in merged}
    tail = {k: v for k, v in merged.items() if k not in head}
    return {**head, **tail}


def all_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for mod in _modules():
        out.update(mod.QUERIES)
    return _ordered(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(mod.ORACLES)
    return _ordered(out)
