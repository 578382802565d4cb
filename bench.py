#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Queries are forced end-to-end with the noop sink (full computation, no
driver-side collect), mirroring how a cluster job would be measured.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: one per operator family, heaviest variants
HEADLINE = [
    "filter_map",
    "sort_take",
    "group_agg",
    "equi_join",
    "join3_revenue",
    "count_by",
    "index_by",
    "unique_by",
    "any_all",
    "pivot",
    "implode",
    "explode",
    "set_ops",
    "string_split_replace",
    "regex_ops",
    "math_ops",
    "win_lag_lead",
    "win_rolling",
    "win_zscore",
    "time_bucket",
    # r04 additions: extended joins, ts rollup, deterministic split, IVF
    # ANN, sessionization, profiling, contract checks
    "asof_join",
    "range_join",
    "rollup_gapfill",
    "hash_split",
    "ann_ivf",
    "sessionize",
    "group_quantiles",
    "histogram",
    "check_constraints",
    "stream_interval_join",
    # r05 additions: context-length chunking, corpus mixture, composed
    # end-to-end corpus-prep pipeline
    "doc_chunks",
    "doc_mixture",
    "pipeline_demo",
    # r07 additions: Gopher repetition fold, quality rules, benchmark
    # decontamination (broadcast gram join), int8 embedding quantization
    "rep_ngrams",
    "gopher_rules",
    "decontaminate",
    "embed_quantize",
    # r07: SemDeDup — within-cluster cosine dedup (cell equi-join)
    "semantic_dedup",
    # r12: SemDeDup retention with the exact-fingerprint pre-collapse
    # (the 100 TB path — byte-identical vectors grouped before the
    # quadratic pair join)
    "semantic_keep",
    # r07: per-domain document cap (md5-ranked group window)
    "cap_per_key",
    # r08: corpus-wide line dedup (owner-election shuffle) and Unicode
    # normalization (the Arrow mapInPandas path)
    "dedup_lines",
    "normalize_text",
    # r08: corpus-statistics ranking (BM25 postings join, DSIR
    # zero-shuffle literal-map scoring, PMI count reductions) and the
    # Z-order clustering key (pure codegen bit arithmetic)
    "bm25_topk",
    "dsir_weights",
    "pmi_colloc",
    "zorder_key",
    # r08: gram-granular exact-substring dedup (owner election + span
    # coverage anti-join) and A-ES weighted sampling (per-stratum rank)
    "dedup_spans",
    "weighted_sample",
    "ngram_lm",
    "hash_embed",
    "funnel",
    # r09 additions: funnel variants, TF-IDF hash embedding (bucket-df
    # broadcast + corpus-N scalar attach), temperature mixture weights,
    # and in-place PII redaction (row-local regex chain)
    "funnel_step",
    "funnel_unordered",
    "tfidf_embed",
    "temp_mixture",
    "pii_mask",
    # r10 additions: cross-source shared-n-gram overlap matrix (r9 op,
    # now bench-visible), the image resize/EXIF transform
    # (Arrow-batched mapInPandas over binary content), and the
    # hashed-feature linear quality scorer (literal-model zero-shuffle
    # scoring)
    "gram_overlap",
    "mm_resize",
    "quality_logit",
    # multi-document engine: one compiled plan over a whole DataFrame of
    # JSON documents (the JetroEngine-at-scale story)
    "jql_docs",
    # jetro-expression-string queries through the JQL relational compiler
    "jql_filter_map",
    "jql_sort_take",
    "jql_equi_join",
    "jql_count_by",
    # r09: ordered group collect through the JQL compiler (doc-order
    # surrogate + per-group array sort — the pipeline-order contract)
    "jql_group_by",
]


def main() -> None:
    from jetro_spark.session import get_spark
    from jetro_spark.gate import all_queries

    spark = get_spark("jetro_spark_bench")
    queries = all_queries()

    # warm the JVM + parquet footers with one tiny pass
    queries["count_by"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    dispersion: dict[str, dict] = {}
    total = 0.0
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        # 1 warmup + best-of-5, matching the reference baseline's
        # cache-hot protocol (bench_lock.rs: warmups + best-of-iters) and
        # the doc-mode loop below. The warmup pays one-time analysis +
        # codegen; each timed run still executes the full distributed
        # query through the noop sink (no result caching anywhere).
        # 5 iterations (r7, up from 3) so the recorded per-query
        # dispersion can tell a real regression from scheduler noise —
        # this suite's documented run-to-run swing is ±30%.
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(5):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[0], 4)
        dispersion[name] = {
            "min": round(samples[0], 4),
            "median": round(samples[len(samples) // 2], 4),
            "max": round(samples[-1], 4),
            "spread_pct": round(100 * (samples[-1] - samples[0])
                                / samples[0], 1) if samples[0] else None,
        }
        total += samples[0]

    # document-mode bench_lock suite: the reference's own 13-query locked
    # workload (20k orders × 6 items, BASELINE.md) as jetro expression
    # strings through the document-mode compiler — the apples-to-apples
    # baseline comparison. Ingest cost is excluded (the reference times
    # cache-hot queries on a parsed doc too).
    from jetro_spark.benchdoc import BENCH_QUERIES, synth_doc
    from jetro_spark.jql.engine import Jetro

    # Ingest parses the doc once into a JVM LocalRelation — Catalyst
    # then folds every Project-shaped doc query driver-side, so execution
    # launches zero Spark jobs (there is no point distributing a single
    # document; the reference is likewise one in-process thread over a
    # cached parse).
    jt = Jetro.from_value(spark, synth_doc(20_000, 6))
    # 5 warmups + best-of-15 since r07 (2 + best-of-7 r05-r06; the
    # reference's own protocol is 3 warmups + 20 iterations best/median,
    # bench_lock.rs:11-18, so this is still the more conservative side).
    # The extra iterations matter: C2 JIT does not reach steady state on
    # the generated SafeProjection within 2 warmups — bl_q2 measured
    # 4.3 ms at 2+7 but 3.0 ms best-of-30 after 10 executions of the
    # same handle (r7 breakdown). The first warmup pays parse +
    # analysis + optimization + projection codegen — the analog of
    # their plan + pointer caches. Each timed execute() re-evaluates
    # the FULL optimized expression tree over the document JVM-side
    # (localrel.WarmQuery); results are never cached between iterations.
    # Harness-overhead breakdown (r7, measured, steady-state): bl_q2
    # execute() best 2.97 ms = 2.51 ms pure JVM foreach-eval (vs the
    # Rust reference's 2.5 ms — parity) + ~0.3-0.5 ms py4j dispatch and
    # Python timer entry; the residual above the reference on the
    # smallest queries is harness entry, not evaluation.
    for name, expr in BENCH_QUERIES.items():
        for _ in range(5):
            jt.execute(expr)
        samples = []
        for _ in range(15):
            t0 = time.perf_counter()
            jt.execute(expr)
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[0], 4)
        dispersion[name] = {
            "min": round(samples[0], 4),
            "median": round(samples[len(samples) // 2], 4),
            "max": round(samples[-1], 4),
            "spread_pct": round(100 * (samples[-1] - samples[0])
                                / samples[0], 1) if samples[0] else None,
        }
        total += samples[0]

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    print(emit(timings, dispersion, sf, total))


# The driver's stdout tail capture, measured from the BENCH_r07/r08
# artifacts (both "parsed": null with the tail starting mid-token), is
# ~2,260 bytes — NOT the 2.8 KB r8 hoped for. Bound the line well inside
# the measured window so new r9+ queries still fit.
LINE_BUDGET = 1800


def emit(timings: dict, dispersion: dict, sf, total: float,
         detail_path: str | None = None) -> str:
    """Write the full bench record to the sidecar and return the compact
    driver-facing stdout line (bounded ≤ LINE_BUDGET bytes)."""
    # Full dispersion + protocol provenance go to a sidecar file — the
    # driver's stdout tail capture is bounded and the r07/r08 single fat
    # JSON lines outgrew it (both recorded "parsed": null). The stdout
    # line carries ONLY {per-query min, total, sf, detail pointer}; the
    # spread map lives exclusively in bench_detail.json. Printed LAST so
    # any tail window that holds it parses.
    detail = {
        "metric": "headline_queries_total",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        # Per-query {min, median, max, spread_pct} over the same
        # iterations that produced "queries" (r7): a round-over-round
        # delta SMALLER than a query's own spread_pct is noise, not a
        # regression — adjudicate against this, not the single best
        # number.
        "dispersion": dispersion,
        "sf": sf,
        # Measurement-protocol provenance: doc-mode bl_q* are
        # driver-local fresh executeCollect since r03; relational
        # queries are noop-sink writes, cold single-shot through
        # r03 and warm best-of-3 since r04 (cache-hot, like the
        # reference baseline's own protocol). Numbers across a
        # protocol switch are NOT comparable round-over-round.
        "protocol": ("relational=noop-sink warm best-of-5 + "
                     "dispersion (since r07; best-of-3 r04-r06; "
                     "cold single-shot r01-r03); "
                     "bl_q*=warm-projection eval 5-warmup best-of-15 "
                     "since r07 (2-warmup best-of-7 r05-r06) "
                     "(compile-once SafeProjection, each iteration "
                     "re-evaluates the full expression over the doc "
                     "— the reference's own cache-hot plan-cache "
                     "protocol; r03-r04 were fresh-executeCollect "
                     "re-paying optimization per iteration)"),
    }
    if detail_path is None:
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_detail.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)

    compact = {
        "metric": "headline_queries_total",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "detail": "bench_detail.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > LINE_BUDGET:
        # tier 2: shave precision — 3 decimals still resolves 1 ms
        compact["queries"] = {k: round(v, 3) for k, v in timings.items()}
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > LINE_BUDGET:
        # tier 3 (final fallback): some parseable line ALWAYS fits —
        # move the per-query map to the sidecar too and keep only the
        # headline aggregate. The driver then still records total+sf.
        compact.pop("queries")
        compact["queries_in_detail"] = True
        line = json.dumps(compact, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
