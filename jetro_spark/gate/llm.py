"""Gate queries: LLM-data-pipeline operators over documents/embeddings.

The dedup_lsh row is the load-bearing one: the banded MinHash-LSH
pipeline (no all-pairs join) must reproduce EXACTLY the pairs a
brute-force all-pairs exact-Jaccard scan finds in DuckDB — with b=32
bands of r=4, P(missing a 0.8-jaccard pair) ≈ 5e-8, so candidate
generation is effectively lossless and the equality is a real test of
the whole shingle→minhash→band→bucket-join→verify chain.

ann_topk likewise: the Spark broadcast-NLJ brute-force cosine ranking
must equal DuckDB's all-pairs ranking (dot products are sequential
double folds on both sides → identical IEEE results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jetro_spark.llm import dedup as D
from jetro_spark.llm import multimodal as MM
from jetro_spark.llm import similarity as SIM
from jetro_spark.llm import text as TX
from jetro_spark.session import fan_out, load_tables


def _docs(spark: SparkSession, sf_dir: str, fan: bool = False) -> DataFrame:
    """``fan=True`` restores scan parallelism on the single-row-group
    bench file (session.fan_out, guide §2.5) — opted into per query:
    a win exactly where per-row compute (tokenize/hash/explode)
    dominates, a loss where a map-side partial aggregate would have
    collapsed the data before its first exchange (r14 measurements in
    SCALE.md, "Measured decisions")."""
    d = load_tables(spark, sf_dir, register=False)["documents"]
    return fan_out(d) if fan else d


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        TX.bpe_ish_count(t).alias("n_bpe"),
        TX.alpha_ratio(t).alias("alpha"),
        TX.mean_word_len(t).alias("mwl"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        TX.lang_hits(t, "en").alias("en_hits"),
        TX.lang_hits(t, "de").alias("de_hits"),
        TX.lang_hits(t, "fr").alias("fr_hits"),
        TX.lang_id(t).alias("pred"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    kept = D.exact_dedup(d, "text", order="doc_id")
    return kept.agg(
        F.count(F.lit(1)).alias("n_after"),
        F.countDistinct(TX.normalize_text(F.col("text"))).alias("n_norm"),
    )


def q_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return D.minhash_lsh_pairs(d, "doc_id", "text", k=5, threshold=0.8)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, register=False)["embeddings"]
    queries = e.filter(F.col("vec_id") < 10)
    out = SIM.brute_force_topk(e, queries, k=5)
    # score excluded: rank is float-robust, raw cosine doubles may differ
    # in the last ulp between engines' summation strategies
    return out.select("qid", "nid", "rank")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard on (doc_id, doc_id+1) pairs — the
    verify primitive of n-gram dedup, gated directly. The pair join is
    an equi-join (shuffle- or broadcast-able); at scale pairs come from
    LSH candidates, not consecutive ids."""
    d = _docs(spark, sf_dir)
    sh = d.select("doc_id", D.word_shingles(F.col("text"), 3).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("a_id"),
                    F.col("b.doc_id").alias("b_id"),
                    D.ngram_jaccard(F.col("a.sh"), F.col("b.sh"))
                    .alias("jaccard")))


def q_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / PII / junk quality filters (Gopher-style signals) —
    all expression-only, usable as pushed-down scan predicates."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    pii = TX.pii_counts(t)
    return d.select(
        "doc_id",
        F.round(TX.dup_ngram_ratio(t, 3), 6).alias("dup3"),
        pii["n_email"].alias("n_email"),
        pii["n_phone"].alias("n_phone"),
        F.round(TX.junk_ratio(t), 6).alias("junk"),
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style composite quality score, expression-only (usable
    as a pushed-down scan filter at 100 TB)."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select("doc_id",
                    TX.quality_score(t).alias("q"),
                    TX.stopword_ratio(t).alias("sw"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit xxhash64 content fingerprint → per-doc duplicate flag.
    Oracle equivalence: docs share a fingerprint iff they share
    normalized text (64-bit collisions at this scale: ~1e-15)."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("fp")
    return (d.select("doc_id", TX.doc_fingerprint(F.col("text")).alias("fp"))
            .select("doc_id", (F.count(F.lit(1)).over(w) > 1).alias("is_dup")))


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs. All-pairs is INHERENT to
    the exact variant (broadcast keeps the corpus unshuffled); the scale
    path is ann_lsh's bucketed candidates + this verify step."""
    e = load_tables(spark, sf_dir, register=False)["embeddings"]
    a = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb"))
    return (a.crossJoin(F.broadcast(b))
            .filter(F.col("a_id") < F.col("b_id"))
            .withColumn("cos", SIM.cosine(F.col("va"), F.col("vb")))
            .filter(F.col("cos") >= 0.45)
            .select("a_id", "b_id"))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pairs (Abbas et al. 2023): within-k-means-cluster
    cosine duplicates, keep order = ascending similarity-to-centroid
    (keep the member farthest from its centroid, ties → lowest id).
    Seeded centroids (lowest-id vectors, the ann_ivf convention) keep
    the row ORACLE-EXACT: DuckDB re-derives cells, centroid
    similarities, keep order, and the pair filter bit-for-bit. The
    production path swaps in train_centroids without changing the plan
    (cell literals + one cell equi-join; no all-pairs)."""
    e = load_tables(spark, sf_dir, register=False)["embeddings"]
    cents = SIM.seed_centroids(e, 16)
    # fan the pairing input only: cell assignment folds 16 centroid
    # dots per row — per-row compute, not aggregation (guide §2.5);
    # full=cores because the cell pair join is broadcast, so no
    # downstream shuffle competes for task slots; the centroid model
    # build stays on the raw scan
    return D.semantic_dedup_pairs(fan_out(e, full=True), cents,
                                  threshold=0.45)


def q_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup RETENTION (r12): the 100 TB path — survivors after the
    exact-fingerprint pre-collapse (byte-identical vectors grouped
    before cell assignment; output-invariant, see
    llm/dedup.py semantic_dedup) plus the rep-level within-cell pair
    graph. The oracle replays the unbounded pair semantics in DuckDB
    and anti-selects — green iff the pre-collapse really is
    output-invariant on this corpus."""
    e = load_tables(spark, sf_dir, register=False)["embeddings"]
    cents = SIM.seed_centroids(e, 16)
    return D.semantic_dedup(e, cents, threshold=0.45).select("vec_id")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k — the no-all-pairs scale path.
    Deterministic seeded planes make even the approximate answer
    oracle-checkable: the SQL oracle embeds the same plane constants and
    reproduces bucket assignment + rerank bit-for-bit."""
    e = load_tables(spark, sf_dir, register=False)["embeddings"]
    q = e.filter(F.col("vec_id") < 10)
    out = SIM.hyperplane_lsh_topk(e, q, k=5, tables=4, bits=6, dim=64)
    return out.select("qid", "nid", "rank")


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware dedup: MinHash-LSH pairs → connected components
    (min-label propagation to fixpoint) → every document labeled with
    its duplicate-cluster id (its own id when isolated). The oracle
    recomputes the SAME pairs via exact Jaccard (the dedup_lsh
    equivalence) and the SAME closure via a recursive CTE."""
    d = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(d, "doc_id", "text", k=5, threshold=0.8)
    cc = D.connected_components(pairs)
    out = (d.join(cc, d.doc_id == cc.id, "left")
           .select("doc_id",
                   F.coalesce("component", "doc_id").alias("component")))
    return out


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class centroids, flattened to (label, pos, m) rows so
    the oracle compares scalar cells. Exact-decimal accumulation makes
    the means order-independent — hence engine-comparable."""
    e = load_tables(spark, sf_dir, register=False)["embeddings"]
    cents = SIM.label_centroids(e, "label", "embedding")
    return (cents.select("label", F.posexplode("centroid").alias("pos", "m"))
            .select("label", "pos", F.round("m", 8).alias("m")))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k — the third ANN strategy (Voronoi cells +
    n_probe search). Seeded deterministic centroids (the 16 lowest-id
    vectors) make the whole index oracle-exact: DuckDB re-derives the
    same centroids from the table and replays assignment, probing, and
    rerank bit-for-bit."""
    e = load_tables(spark, sf_dir, register=False)["embeddings"]
    q = e.filter(F.col("vec_id") < 10)
    # fan the corpus side: cell assignment + rerank dots are per-row
    # folds (guide §2.5); the 10-row query side stays as-is
    out = SIM.ivf_topk(fan_out(e, full=True), q, k=5, n_cells=16,
                       n_probe=4)
    return out.select("qid", "nid", "rank")


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over K-MEANS-TRAINED centroids (train_centroids, 3 Lloyd's
    iterations) — the production ANN index build, next to the
    oracle-exact seeded variant (q_ann_ivf). DuckDB cannot replay the
    training loop, so the recall contract (recall@10 >= 0.9, the
    production ANN bar) is computed IN-PLAN and emitted as the row: the
    exact cosine top-10 baseline comes from brute_force_topk — itself
    hash-verified against DuckDB by ann_topk — and the oracle pins
    n_truth (the exact-side pair count, independently recomputed by
    DuckDB) plus `true AS within_tol`, so the driver's hash-compare
    fails unless recall meets the bar. The recall contract also has a
    pytest leg (test_llm.py::test_train_centroids_deterministic_and_
    recall)."""
    e = load_tables(spark, sf_dir, register=False)["embeddings"]
    cents = SIM.train_centroids(e, 16, iters=3)
    q = e.filter(F.col("vec_id") < 10)
    got = SIM.ivf_topk(e, q, k=10, n_cells=16, n_probe=6, centroids=cents)
    truth = SIM.brute_force_topk(e, q, k=10)
    hit = got.select("qid", "nid").withColumn("hit", F.lit(1))
    return (truth.select("qid", "nid")
            .join(hit, ["qid", "nid"], "left")
            .agg(F.count(F.lit(1)).alias("n_truth"),
                 (F.sum(F.coalesce("hit", F.lit(0)))
                  / F.count(F.lit(1)) >= F.lit(0.9)).alias("within_tol")))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (banded, no all-pairs) + exact
    Hamming verify. HARD oracle since round 7: the md5-derived token
    hash replays bit-identically in DuckDB (ORACLES entry below);
    band completeness is additionally pinned by
    tests/test_llm.py::test_simhash_band_completeness."""
    return D.simhash_pairs(_docs(spark, sf_dir))


def _mm_binary(spark: SparkSession, sf_dir: str, mime: str) -> DataFrame:
    d = _docs(spark, sf_dir).withColumn("bin", F.col("text").cast("binary"))
    return MM.binary_table(d, "bin", mime, "doc_id")


def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing under the driver: Arrow-batched
    mapInPandas fills meta.width/height via the deterministic fake
    decoder (sha256 arithmetic — reproduced exactly by the oracle)."""
    dec = MM.decode_images(_mm_binary(spark, sf_dir, "image/png"), fake=True)
    return dec.select("media_id",
                      F.col("meta.mime").alias("mime"),
                      F.col("meta.width").alias("width"),
                      F.col("meta.height").alias("height"))


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize + EXIF-orientation (r10): Arrow-batched thumbnail
    transform via the deterministic fake (sha256-derived dims and
    orientation, exact integer floor-division scale math) — the oracle
    replays dimensions, the scale rule, and the orientation tag."""
    out = MM.transform_images(_mm_binary(spark, sf_dir, "image/png"),
                              max_side=100, fake=True)
    return out.select("media_id",
                      F.col("meta.width").alias("width"),
                      F.col("meta.height").alias("height"),
                      F.col("orientation"))


def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: meta-driven explode, no decode —
    pure expressions, so content bytes are never read (column pruning
    drops `content` from the scan)."""
    bt = _mm_binary(spark, sf_dir, "video/mp4")
    bt = bt.withColumn(
        "meta", F.col("meta").withField(
            "n_frames", (F.col("media_id") % 40 + 1).cast("int")))
    return MM.sample_frames(bt, every_n=7).select("media_id", "frame_idx")


QUERIES = {
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "dedup_exact": q_dedup_exact,
    "dedup_lsh": q_dedup_lsh,
    "ann_topk": q_ann_topk,
    "ngram_jaccard": q_ngram_jaccard,
    "doc_quality": q_doc_quality,
    "quality_filters": q_quality_filters,
    "fingerprint": q_fingerprint,
    "embed_neardup": q_embed_neardup,
    "semantic_dedup": q_semantic_dedup,
    "semantic_keep": q_semantic_keep,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_trained": q_ann_ivf_trained,
    "label_centroids": q_label_centroids,
    "dedup_cluster": q_dedup_cluster,
    "simhash_pairs": q_simhash_pairs,
    "mm_decode": q_mm_decode,
    "mm_resize": q_mm_resize,
    "mm_frames": q_mm_frames,
}

_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_TOKS = f"list_filter(string_split_regex(trim({_NORM}), '\\s+'), x -> len(x) > 0)"


def _in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


ORACLES = {
    "text_stats": """
        SELECT doc_id,
               len(list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> len(x) > 0))::BIGINT AS n_tokens,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpe,
               1.0 - len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                     / len(lower(text)) AS alpha,
               list_sum(list_transform(
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> len(x) > 0), x -> len(x)))::DOUBLE
                 / len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> len(x) > 0)) AS mwl
        FROM documents
    """,
    "lang_id": f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ), h AS (
          SELECT doc_id,
                 len(list_filter(toks, x -> x IN ({_in_list(TX.LANG_MARKERS['en'])})))::BIGINT AS en_hits,
                 len(list_filter(toks, x -> x IN ({_in_list(TX.LANG_MARKERS['de'])})))::BIGINT AS de_hits,
                 len(list_filter(toks, x -> x IN ({_in_list(TX.LANG_MARKERS['fr'])})))::BIGINT AS fr_hits
          FROM t
        )
        SELECT doc_id, en_hits, de_hits, fr_hits,
               CASE WHEN greatest(en_hits, de_hits, fr_hits) = 0 THEN 'und'
                    WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                    WHEN de_hits >= fr_hits THEN 'de'
                    ELSE 'fr' END AS pred
        FROM h
    """,
    "dedup_exact": f"""
        SELECT count(*) AS n_after,
               count(DISTINCT {_NORM}) AS n_norm
        FROM (SELECT DISTINCT ON ({_NORM}) text FROM documents ORDER BY {_NORM}, doc_id)
    """,
    # BANDED oracle since r9 — no all-pairs: candidates come from a
    # prefix-filter equi-join (Bayardo et al. 2007, "Scaling Up All
    # Pairs Similarity Search"): under ANY global token order, a pair
    # with jaccard >= t MUST share a token inside each side's
    # (n - ceil(t*n) + 1)-prefix, so joining prefix tokens is COMPLETE
    # (a deterministic guarantee like simhash's pigeonhole band). The
    # global order is document-frequency ASCENDING (rarest first — the
    # standard PPJoin order, ~40% fewer candidates than lexical here),
    # the PPJoin position filter prunes further (remaining suffixes
    # must still allow the required overlap ceil(t/(1+t)(na+nb))), the
    # length-ratio filter is implied by the threshold, and the verify
    # runs on 64-bit shingle hashes with jaccard = i/(na+nb-i) —
    # measured ~4x faster than string-list union building. All three
    # filters are value-complete, so the result set is exactly the
    # all-pairs answer; this makes the oracle sweep-runnable at sf0.1
    # instead of quadratic-skipped.
    "dedup_lsh": f"""
        WITH d AS (
          SELECT doc_id, {_NORM} AS t FROM documents
        ), s AS MATERIALIZED (
          SELECT doc_id,
                 list_sort(list_transform(list_distinct([substr(t, i, 5)
                     for i in generate_series(1, greatest(len(t)-4, 0))]),
                     x -> hash(x))) AS sh
          FROM d
        ), ex AS (
          SELECT doc_id, unnest(sh) AS tok FROM s
        ), tf AS MATERIALIZED (
          SELECT tok, count(*) AS dfreq FROM ex GROUP BY tok
        ), o AS MATERIALIZED (
          SELECT e.doc_id, list(e.tok ORDER BY t.dfreq, e.tok) AS osh
          FROM ex e JOIN tf t USING (tok) GROUP BY e.doc_id
        ), pref AS MATERIALIZED (
          SELECT doc_id, len(osh) AS n, pos, osh[pos] AS tok
          FROM o, unnest(generate_series(1,
                 len(osh) - ceil(0.8 * len(osh))::INT + 1)) AS u(pos)
        ), cand AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM pref a JOIN pref b
            ON a.tok = b.tok AND a.doc_id < b.doc_id
           AND a.n >= 0.8 * b.n AND b.n >= 0.8 * a.n
           AND 1 + least(a.n - a.pos, b.n - b.pos)
               >= ceil(0.8 / 1.8 * (a.n + b.n))
          GROUP BY 1, 2
        ), j AS (
          SELECT a_id, b_id,
                 len(list_intersect(sa.sh, sb.sh))::DOUBLE AS inter,
                 len(sa.sh) AS na, len(sb.sh) AS nb
          FROM cand
          JOIN s sa ON sa.doc_id = cand.a_id
          JOIN s sb ON sb.doc_id = cand.b_id
        )
        SELECT a_id, b_id, inter / (na + nb - inter) AS jaccard
        FROM j WHERE inter / (na + nb - inter) >= 0.8
    """,
    "ann_topk": """
        WITH pairs AS (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 list_sum([q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                           for i in generate_series(1, len(q.embedding))])
                 / nullif(
                     sqrt(list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE
                                    for i in generate_series(1, len(q.embedding))]))
                     * sqrt(list_sum([c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                                      for i in generate_series(1, len(c.embedding))])), 0)
                 AS score
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
        ), ranked AS (
          SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score DESC, nid ASC) AS rank
          FROM pairs
        )
        SELECT qid, nid, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5
    """,
}

_COS = """
    list_sum([{a}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE
              for i in generate_series(1, len({a}.embedding))])
    / nullif(
        sqrt(list_sum([{a}.embedding[i]::DOUBLE * {a}.embedding[i]::DOUBLE
                       for i in generate_series(1, len({a}.embedding))]))
        * sqrt(list_sum([{b}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE
                         for i in generate_series(1, len({b}.embedding))])), 0)
"""

_HEXPAIR = ("(strpos('0123456789abcdef', substr(hx, {p1}, 1)) - 1) * 16"
            " + strpos('0123456789abcdef', substr(hx, {p2}, 1)) - 1")


def _ann_lsh_sql(tables: int = 4, bits: int = 6, dim: int = 64) -> str:
    """Reproduce hyperplane_lsh_topk in DuckDB: the seeded plane
    constants are embedded as DOUBLE-list literals (repr() round-trips
    each double exactly), signs/keys/rerank mirror the Spark plan."""
    from jetro_spark.llm.similarity import _planes

    rows = []
    for idx, p in enumerate(_planes(tables * bits, dim)):
        lits = ", ".join(repr(v) for v in p)
        rows.append(f"({idx // bits}, {idx % bits}, [{lits}]::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
        WITH planes(tbl, bit, p) AS (VALUES {values}),
        sigs AS (
          SELECT e.vec_id, pl.tbl,
                 SUM((CASE WHEN list_sum([e.embedding[i]::DOUBLE * pl.p[i]
                                          for i in generate_series(1, {dim})]) >= 0
                           THEN 1 ELSE 0 END)
                     * (1 << ({bits - 1} - pl.bit))) AS key
          FROM embeddings e, planes pl
          GROUP BY e.vec_id, pl.tbl),
        cand AS (
          SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
          FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.key = c.key
          WHERE q.vec_id < 10 AND q.vec_id != c.vec_id),
        scored AS (
          SELECT cand.qid, cand.nid, {_COS.format(a='qe', b='ce')} AS score
          FROM cand
          JOIN embeddings qe ON qe.vec_id = cand.qid
          JOIN embeddings ce ON ce.vec_id = cand.nid),
        ranked AS (
          SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score DESC, nid ASC) AS rank
          FROM scored)
        SELECT qid, nid, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5
    """


ORACLES["ngram_jaccard"] = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, greatest(len(toks) - 2, 0))]) AS sh
      FROM t
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                THEN len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh)))
                ELSE 0.0 END AS jaccard
    FROM s a JOIN s b ON a.doc_id + 1 = b.doc_id
"""

_SW = ", ".join(f"'{w}'" for w in TX.STOPWORDS_EN)

ORACLES["doc_quality"] = f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS ntoks,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> len(x) > 0) AS rtoks
      FROM documents
    ), c AS (
      SELECT doc_id,
             CASE WHEN len(text) >= 100 AND len(text) <= 20000 THEN 1.0
                  WHEN len(text) >= 30 THEN 0.5 ELSE 0.0 END AS len_ok,
             CASE WHEN len(lower(text)) > 0
                  THEN 1.0 - len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                             / len(lower(text))
                  ELSE 0.0 END AS alpha,
             CASE WHEN len(ntoks) > 0
                  THEN len(list_filter(ntoks, x -> x IN ({_SW})))::DOUBLE / len(ntoks)
                  ELSE 0.0 END AS sw,
             CASE WHEN len(rtoks) > 0
                  THEN list_sum(list_transform(rtoks, x -> len(x)))::DOUBLE / len(rtoks)
                  ELSE 0.0 END AS mwl
      FROM t
    )
    SELECT doc_id,
           0.3 * len_ok + 0.3 * alpha + 0.2 * least(sw * 5.0, 1.0)
           + 0.2 * (CASE WHEN mwl >= 2.5 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END) AS q,
           sw
    FROM c
"""

ORACLES["fingerprint"] = f"""
    SELECT doc_id,
           count(*) OVER (PARTITION BY {_NORM}) > 1 AS is_dup
    FROM documents
"""

# embed_neardup: still an exhaustive-pair ground truth (the Spark query
# IS the declared brute-force exact baseline), but no longer a sweep
# skip (r10): norms precompute once per VECTOR and the per-pair dot uses
# DuckDB's native list_dot_product, which is bit-identical to the _COS
# comprehension fold (verified over every sf0.1 pair: 0 value diffs,
# 0 threshold flips) and ~500x faster (17 s → 0.1 s at sf0.1). A
# Bayardo-style banded candidate oracle does NOT transplant here: the
# embeddings are DENSE unit vectors, so every prefix-filter/posting
# bucket contains the whole corpus and prunes nothing — cheapening the
# verify arithmetic is the honest fix.
ORACLES["embed_neardup"] = """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.v, b.v) / nullif(a.nrm * b.nrm, 0) >= 0.45
"""

# semantic_dedup: replay the seeded-centroid cell assignment exactly as
# ann_ivf does (norm-free score s = dot/||c||, ties → lowest cell), then
# ck = s / ||v|| in the SAME two-division order as the Spark plan
# (top.s / l2_norm(v)), the paper's keep order (ck ASC, id ASC), and the
# within-cell cosine pair filter via the shared _COS fold.
ORACLES["semantic_dedup"] = f"""
    WITH cents AS (
      SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < 16),
    cell_scores AS (
      SELECT e.vec_id, c.cell,
             list_sum([e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                       for i in generate_series(1, len(e.embedding))])
             / sqrt(list_sum([c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                              for i in generate_series(1, len(c.embedding))]))
               AS s
      FROM embeddings e CROSS JOIN cents c),
    assign AS (
      SELECT vec_id, cell, s FROM (
        SELECT vec_id, cell, s,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cell ASC) AS rn
        FROM cell_scores) WHERE rn = 1),
    keyed AS (
      SELECT a.vec_id, a.cell,
             a.s / sqrt(list_sum([e.embedding[i]::DOUBLE
                                  * e.embedding[i]::DOUBLE
                                  for i in generate_series(1, len(e.embedding))]))
               AS ck
      FROM assign a JOIN embeddings e USING (vec_id))
    SELECT CAST(x.cell AS INTEGER) AS cell,
           x.vec_id AS keep_id, y.vec_id AS drop_id
    FROM keyed x
    JOIN keyed y ON x.cell = y.cell
    JOIN embeddings a ON a.vec_id = x.vec_id
    JOIN embeddings b ON b.vec_id = y.vec_id
    WHERE (x.ck < y.ck OR (x.ck = y.ck AND x.vec_id < y.vec_id))
      AND {_COS.format(a='a', b='b')} >= 0.45
"""

# semantic_keep (r12): retention = everything without an earlier
# in-threshold neighbour — the UNBOUNDED pair semantics replayed in
# DuckDB, anti-selected. The Spark side runs the pre-collapsed
# rep-level plan, so a green row proves the collapse output-invariant.
ORACLES["semantic_keep"] = f"""
    SELECT e.vec_id FROM embeddings e
    WHERE e.vec_id NOT IN (
      SELECT drop_id FROM ({ORACLES["semantic_dedup"]}))
"""

ORACLES["ann_lsh"] = _ann_lsh_sql()

# Clusters: same pair semantics as dedup_lsh (LSH output ≡ exact-Jaccard
# scan at this threshold), closure via recursive CTE (min reachable id
# per node = exactly the label-propagation fixpoint). CTEs are
# MATERIALIZED: DuckDB otherwise inlines the expensive pair scan into
# every recursive reference (measured 96 s -> 36 s).
ORACLES["dedup_cluster"] = f"""
    WITH RECURSIVE d AS MATERIALIZED (
      SELECT doc_id, {_NORM} AS t FROM documents
    ), s AS MATERIALIZED (
      SELECT doc_id,
             list_sort(list_transform(list_distinct([substr(t, i, 5)
                 for i in generate_series(1, greatest(len(t)-4, 0))]),
                 x -> hash(x))) AS sh
      FROM d
    ), ex AS (
      -- prefix-filter candidate generation (see dedup_lsh: complete
      -- under the Bayardo prefix lemma + PPJoin position filter over
      -- frequency-ascending token order; banded since r9, no all-pairs)
      SELECT doc_id, unnest(sh) AS tok FROM s
    ), tf AS MATERIALIZED (
      SELECT tok, count(*) AS dfreq FROM ex GROUP BY tok
    ), o AS MATERIALIZED (
      SELECT e.doc_id, list(e.tok ORDER BY t.dfreq, e.tok) AS osh
      FROM ex e JOIN tf t USING (tok) GROUP BY e.doc_id
    ), pref AS MATERIALIZED (
      SELECT doc_id, len(osh) AS n, pos, osh[pos] AS tok
      FROM o, unnest(generate_series(1,
             len(osh) - ceil(0.8 * len(osh))::INT + 1)) AS u(pos)
    ), cand AS MATERIALIZED (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM pref a JOIN pref b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
       AND a.n >= 0.8 * b.n AND b.n >= 0.8 * a.n
       AND 1 + least(a.n - a.pos, b.n - b.pos)
           >= ceil(0.8 / 1.8 * (a.n + b.n))
      GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
      SELECT a_id, b_id
      FROM (SELECT a_id, b_id,
                   len(list_intersect(sa.sh, sb.sh))::DOUBLE AS inter,
                   len(sa.sh) AS na, len(sb.sh) AS nb
            FROM cand
            JOIN s sa ON sa.doc_id = cand.a_id
            JOIN s sb ON sb.doc_id = cand.b_id)
      WHERE inter / (na + nb - inter) >= 0.8
    ), edges AS MATERIALIZED (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ), reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), comp AS (
      SELECT src AS id, least(src, min(dst)) AS component
      FROM reach GROUP BY src
    )
    SELECT doc.doc_id, coalesce(c.component, doc.doc_id) AS component
    FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.id
"""

# IVF: centroids re-derived from the table (cell = vec_id of the 16
# lowest-id vectors — exactly seed_centroids), assignment = argmax over
# the NORM-FREE score dot/||centroid|| (the row norm is a constant
# positive scale per row, so the Spark plan omits it — the oracle must
# rank by the same formula for float near-ties to agree), ties to the
# lowest cell, probes = 4 nearest cells per query, rerank identical to
# ann_topk. Every float path is the same sequential double fold as the
# Spark plan.
ORACLES["ann_ivf"] = f"""
    WITH cents AS (
      SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < 16),
    cell_scores AS (
      SELECT e.vec_id, c.cell,
             list_sum([e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                       for i in generate_series(1, len(e.embedding))])
             / sqrt(list_sum([c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                              for i in generate_series(1, len(c.embedding))]))
               AS s
      FROM embeddings e CROSS JOIN cents c),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cell ASC) AS rn
        FROM cell_scores) WHERE rn = 1),
    probes AS (
      SELECT vec_id AS qid, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cell ASC) AS rn
        FROM cell_scores WHERE vec_id < 10) WHERE rn <= 4),
    cand AS (
      SELECT p.qid, a.vec_id AS nid
      FROM probes p JOIN assign a USING (cell)
      WHERE p.qid != a.vec_id),
    scored AS (
      SELECT cand.qid, cand.nid, {_COS.format(a='qe', b='ce')} AS score
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.qid
      JOIN embeddings ce ON ce.vec_id = cand.nid),
    ranked AS (
      SELECT qid, nid,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, nid ASC) AS rank
      FROM scored)
    SELECT qid, nid, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
"""

# ann_ivf_trained: DuckDB cannot replay the k-means loop, so the row IS
# the recall verdict — n_truth pins the exact-cosine-top-10 pair count
# (recomputed here independently of Spark's brute-force baseline) and
# within_tol must hash-match `true` (recall@10 >= 0.9, computed in-plan
# against that baseline, which ann_topk hash-verifies vs DuckDB).
ORACLES["ann_ivf_trained"] = f"""
    WITH pairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
             {_COS.format(a='q', b='c')} AS score
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
    ), ranked AS (
      SELECT qid, nid,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, nid ASC) AS rank
      FROM pairs
    )
    SELECT count(*) AS n_truth, true AS within_tol
    FROM ranked WHERE rank <= 10
"""

ORACLES["mm_decode"] = f"""
    WITH h AS (
      SELECT doc_id AS media_id, sha256(text) AS hx FROM documents
    )
    SELECT media_id, 'image/png' AS mime,
           CAST(16 + ({_HEXPAIR.format(p1=1, p2=2)}) % 240 AS INTEGER) AS width,
           CAST(16 + ({_HEXPAIR.format(p1=3, p2=4)}) % 240 AS INTEGER) AS height
    FROM h
"""

# mm_resize (r10): replay the fake decode dims, the EXIF-orientation
# byte (digest byte 4 = hex chars 9,10), and the exact integer
# floor-division thumbnail rule (// is integer division in DuckDB).
ORACLES["mm_resize"] = f"""
    WITH h AS (
      SELECT doc_id AS media_id, sha256(text) AS hx FROM documents
    ), dims AS (
      SELECT media_id,
             16 + ({_HEXPAIR.format(p1=1, p2=2)}) % 240 AS w,
             16 + ({_HEXPAIR.format(p1=3, p2=4)}) % 240 AS h,
             1 + ({_HEXPAIR.format(p1=9, p2=10)}) % 8 AS orient
      FROM h
    )
    SELECT media_id,
           CAST(CASE WHEN greatest(w, h) > 100
                     THEN greatest(1, w * 100 // greatest(w, h))
                     ELSE w END AS INTEGER) AS width,
           CAST(CASE WHEN greatest(w, h) > 100
                     THEN greatest(1, h * 100 // greatest(w, h))
                     ELSE h END AS INTEGER) AS height,
           CAST(orient AS INTEGER) AS orientation
    FROM dims
"""

# Class centroids: 0-based positions on both sides; exact decimal sums
# cast to double BEFORE the divide (decimal-division scale rules differ
# between engines; double division of identical operands does not).
ORACLES["label_centroids"] = """
    SELECT label,
           CAST(pos - 1 AS INTEGER) AS pos,
           -- ::DOUBLE first: DuckDB's FLOAT->DECIMAL converts at float
           -- precision (garbage low digits); Spark casts via the exact
           -- double value
           round(CAST(sum(x::DOUBLE::DECIMAL(28,10)) AS DOUBLE) / count(*), 8) AS m
    FROM (SELECT label, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY label, pos
"""

# 3-gram repetition / PII shapes / control-char contamination. Both
# engines' regex backends (Java Pattern, RE2) use leftmost-first greedy
# matching, so non-overlapping match COUNTS agree for these patterns.
ORACLES["quality_filters"] = f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ), g AS (
      SELECT doc_id, text,
             CASE WHEN len(toks) >= 3
                  THEN [array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, len(toks) - 2)]
                  ELSE [] END AS grams
      FROM t)
    SELECT doc_id,
           round(CASE WHEN len(grams) > 0
                      THEN (len(grams) - len(list_distinct(grams)))::DOUBLE
                           / len(grams)
                      ELSE 0.0 END, 6) AS dup3,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
                AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text,
                '\\+?[0-9][0-9()\\-. ]{{7,}}[0-9]')) AS BIGINT) AS n_phone,
           round(CASE WHEN len(text) > 0
                      THEN (len(text) - len(regexp_replace(text,
                           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x{{FFFD}}]',
                           '', 'g')))::DOUBLE / len(text)
                      ELSE 0.0 END, 6) AS junk
    FROM g
"""

ORACLES["mm_frames"] = """
    SELECT doc_id AS media_id,
           CAST(unnest(generate_series(0, CAST(doc_id % 40 AS BIGINT), 7))
                AS INTEGER) AS frame_idx
    FROM documents
"""
# simhash_pairs HARD oracle (round 7): the signature's per-token hash
# is md5-derived (llm/dedup.py simhash), which DuckDB reproduces
# bit-identically, so the full pipeline replays in SQL. BANDED since
# r9 — candidates come from a bucket equi-join on 4 disjoint 8-bit
# bands of the signature: with max_hamming=3 < 4 bands the pigeonhole
# principle makes the banded candidate set COMPLETE (a deterministic
# guarantee, not probabilistic — also pinned by the band-completeness
# pytest leg, tests/test_llm.py::test_simhash_band_completeness), so
# the oracle sweep-runs at sf0.1 instead of being quadratic-skipped.
# Horner decode of the first 8 md5 hex chars -> unsigned 32-bit BIGINT
_MD5_32 = "(" * 8 + " * 16 + ".join(
    f"strpos('0123456789abcdef', substr(md5(tk), {p}, 1)) - 1)"
    for p in range(1, 9)) + "::BIGINT"
ORACLES["simhash_pairs"] = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), hs AS (
      SELECT doc_id, list_transform(toks, tk -> {_MD5_32}) AS hs FROM t
    ), sigs AS MATERIALIZED (
      SELECT doc_id,
             list_sum([CASE WHEN 2 * list_sum([(h // (1::BIGINT << i)) % 2
                                               for h in hs]) > len(hs)
                            THEN (1::BIGINT << i) ELSE 0::BIGINT END
                       for i in generate_series(0, 31)])::BIGINT AS sig
      FROM hs
    ), keys AS MATERIALIZED (
      SELECT doc_id, sig, band, (sig >> (band * 8)) % 256 AS key
      FROM sigs, unnest(generate_series(0, 3)) AS u(band)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                      a.sig AS sa, b.sig AS sb
      FROM keys a JOIN keys b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, bit_count(xor(sa, sb))::BIGINT AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


# --- context-length chunking (llm/chunking.py) -------------------------------
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget windows with overlap: max 64 tokens, stride 16 —
    one row per chunk, row-local expressions only (no shuffle)."""
    from jetro_spark.llm.chunking import split_by_tokens

    return split_by_tokens(_docs(spark, sf_dir, fan=True), "text", id_col="doc_id",
                           max_tokens=64, stride=16)


QUERIES["doc_chunks"] = q_doc_chunks

_RAW_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)"
ORACLES["doc_chunks"] = f"""
    WITH toks AS (
        SELECT doc_id AS id, {_RAW_TOKS} AS t FROM documents
    ), g AS (
        SELECT id, t, greatest(len(t) - 16 - 1, 0) AS last
        FROM toks
    ), s AS (
        SELECT id, t,
               unnest(generate_series(0, last - (last % 48), 48)) AS start
        FROM g
    ), sliced AS (
        SELECT id, CAST(start // 48 AS BIGINT) AS chunk_id,
               list_slice(t, start + 1, start + 64) AS piece
        FROM s
    )
    SELECT id, chunk_id, CAST(len(piece) AS BIGINT) AS n_tokens,
           array_to_string(piece, ' ') AS chunk_text
    FROM sliced WHERE len(piece) >= 1
"""


# --- deterministic corpus mixture (llm/sampling.mixture_interleave) ----------
def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two corpora from the documents table (by source id), rates 0.5
    and 2.25 — subsample + repeat epochs, hash-derived and engine-
    replayable."""
    from jetro_spark.llm.sampling import mixture_interleave

    d = _docs(spark, sf_dir)
    srcnum = F.substring("source", 4, 10).cast("int")
    lo = d.filter(srcnum < 10).select("doc_id", "source")
    hi = d.filter(srcnum >= 10).select("doc_id", "source")
    out = mixture_interleave({"low": (lo, 0.5), "high": (hi, 2.25)},
                             "doc_id", seed=42)
    return out.select("doc_id", "source", "mix_source",
                      F.col("epoch").cast("long").alias("epoch"))


QUERIES["doc_mixture"] = q_mixture


def _frac_of(tag_sql: str, seed: int) -> str:
    """First-8-hex-chars(md5(tag:seed)) / 16^8, decoded digit-by-digit
    (same trick as the sampling oracles in gate/timeseries.py)."""
    return f"""(CAST(list_sum([(strpos('0123456789abcdef',
        substr(substr(md5({tag_sql} || ':{seed}'), 1, 8), i, 1)) - 1)
        * 16**(8-i) for i in generate_series(1, 8)]) AS BIGINT)
        / 4294967296.0)"""


_MIX_TAG_LO = "doc_id::VARCHAR || '#' || epoch::VARCHAR || '#low'"
_MIX_TAG_HI = "doc_id::VARCHAR || '#' || epoch::VARCHAR || '#high'"
ORACLES["doc_mixture"] = f"""
    WITH lo AS (
        SELECT doc_id, source,
               unnest(generate_series(0, 0)) AS epoch
        FROM documents WHERE CAST(substr(source, 4) AS INT) < 10
    ), hi AS (
        SELECT doc_id, source,
               unnest(generate_series(0, 2)) AS epoch
        FROM documents WHERE CAST(substr(source, 4) AS INT) >= 10
    )
    SELECT doc_id, source, 'low' AS mix_source, CAST(epoch AS BIGINT) AS epoch
    FROM lo WHERE {_frac_of(_MIX_TAG_LO, 42)} < 0.5
    UNION ALL
    SELECT doc_id, source, 'high' AS mix_source, CAST(epoch AS BIGINT) AS epoch
    FROM hi WHERE epoch < 2 OR {_frac_of(_MIX_TAG_HI, 42)} < 0.25
"""


# --- end-to-end pipeline composition -----------------------------------------
def q_pipeline_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-prep path a real pretraining job runs:
    quality filter → exact dedup (keep lowest doc_id per normalized
    text) → context-length chunking → deterministic train/val split →
    per-split stats. Every stage is one of this repo's operators; the
    oracle replays the whole chain as SQL CTEs, proving the operators
    COMPOSE, not just pass in isolation."""
    from jetro_spark.llm.chunking import split_by_tokens
    from jetro_spark.llm.dedup import exact_dedup
    from jetro_spark.llm.sampling import hash_split

    d = _docs(spark, sf_dir).filter(
        (F.col("n_chars") >= 80) & (F.col("lang").isin("en", "de", "fr")))
    d = exact_dedup(d, "text", order="doc_id")
    chunks = split_by_tokens(d, "text", id_col="doc_id",
                             max_tokens=64, stride=0)
    split = hash_split(
        chunks, F.concat(F.col("id").cast("string"), F.lit("#"),
                         F.col("chunk_id").cast("string")),
        {"train": 0.9, "val": 0.1}, seed=7)
    return (split.groupBy("split")
            .agg(F.count("*").alias("n_chunks"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.count_distinct("id").alias("n_docs")))


QUERIES["pipeline_demo"] = q_pipeline_demo

_PD_FRAC = _frac_of("id::VARCHAR || '#' || chunk_id::VARCHAR", 7)
ORACLES["pipeline_demo"] = f"""
    WITH filtered AS (
        SELECT doc_id, text FROM documents
        WHERE n_chars >= 80 AND lang IN ('en', 'de', 'fr')
    ), deduped AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY {_NORM}
                                      ORDER BY doc_id) AS rn
            FROM filtered) WHERE rn = 1
    ), toks AS (
        SELECT doc_id AS id, {_RAW_TOKS} AS t
        FROM deduped
    ), s AS (
        SELECT id, t,
               unnest(generate_series(
                   0, greatest(len(t) - 1, 0)
                      - (greatest(len(t) - 1, 0) % 64), 64)) AS start
        FROM toks
    ), chunks AS (
        SELECT id, CAST(start // 64 AS BIGINT) AS chunk_id,
               CAST(len(list_slice(t, start + 1, start + 64)) AS BIGINT)
                   AS n_tokens
        FROM s WHERE len(list_slice(t, start + 1, start + 64)) >= 1
    )
    SELECT CASE WHEN {_PD_FRAC} < 0.9 THEN 'train' ELSE 'val' END AS split,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT id) AS BIGINT) AS n_docs
    FROM chunks GROUP BY 1
"""


# --- Gopher/C4 quality & repetition rows (llm/text.py, round 7) --------------
# Published doc-level heuristics a corpus-prep pipeline filters on:
# Gopher repetition signals (Rae et al. 2021 A1: duplicated / most-
# frequent n-gram character mass, duplicate-line fractions) and quality
# rules (word count / mean word length / symbol ratio / alpha-word
# ratio / stopword presence), plus C4's cleaning flags (Raffel et al.
# 2020 §2.2). All expression-only row-local maps — no shuffle; at
# 100 TB these run at scan speed and push down as filters.


def q_rep_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition numerators over word 2-grams: characters in
    the most frequent gram (count ties -> larger char mass) and in all
    grams occurring >= 2 times, plus the normalized-char denominator.
    The Spark side is a sorted-run fold (O(G log G), whole-row-local);
    the oracle recomputes via unnest + GROUP BY."""
    d = _docs(spark, sf_dir, fan=True)
    t = F.col("text")
    # one gram build + sort + fold for BOTH numerators, pinned under a
    # Generate node so CollapseProject cannot re-inline it per field
    return (d.select(
        "doc_id",
        F.explode(F.array(TX.ngram_char_masses(t, 2))).alias("__m"),
        F.length(TX.normalize_text(t)).cast("long").alias("n_chars"))
        .select("doc_id",
                F.col("__m.top").alias("top2_chars"),
                F.col("__m.dup").alias("dup2_chars"),
                "n_chars"))


QUERIES["rep_ngrams"] = q_rep_ngrams

_GRAMS2 = ("[array_to_string(toks[i:i+1], ' ') "
           "for i in generate_series(1, greatest(len(toks) - 1, 0))]")

ORACLES["rep_ngrams"] = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks, len({_NORM})::BIGINT AS n_chars
      FROM documents
    ), g AS (
      SELECT doc_id, unnest({_GRAMS2}) AS gram FROM t
    ), counts AS (
      SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
    ), ranked AS (
      SELECT doc_id, gram, c,
             max(c) OVER (PARTITION BY doc_id) AS maxc
      FROM counts
    ), agg AS (
      SELECT doc_id,
             max(CASE WHEN c = maxc THEN c * len(gram) END)::BIGINT
               AS top2_chars,
             coalesce(sum(CASE WHEN c >= 2 THEN c * len(gram) END),
                      0)::BIGINT AS dup2_chars
      FROM ranked GROUP BY doc_id
    )
    SELECT t.doc_id, coalesce(agg.top2_chars, 0) AS top2_chars,
           coalesce(agg.dup2_chars, 0) AS dup2_chars, t.n_chars
    FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
"""


def q_doc_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-shape signals with lines derived by splitting on the token
    'the' (the corpus is single-line word soup; the derivation is the
    same deterministic transform on both engines, so the line machinery
    is exercised end to end)."""
    d = _docs(spark, sf_dir)
    s = TX.line_stats(F.col("text"), sep=" the ")
    return d.select(
        "doc_id",
        s.getField("n_lines").alias("n_lines"),
        s.getField("dup_line_ratio").alias("dup_line_ratio"),
        s.getField("dup_line_char_ratio").alias("dup_line_char_ratio"),
        s.getField("bullet_ratio").alias("bullet_ratio"),
        s.getField("terminal_ratio").alias("terminal_ratio"),
    )


QUERIES["doc_line_stats"] = q_doc_line_stats

_LINES = ("list_filter(list_transform(string_split_regex(trim(text), "
          "' the '), x -> trim(x)), x -> len(x) > 0)")

ORACLES["doc_line_stats"] = f"""
    WITH t AS (
      SELECT doc_id, {_LINES} AS lines FROM documents
    ), l AS (
      SELECT doc_id, unnest(lines) AS line FROM t
    ), counts AS (
      SELECT doc_id, line, count(*) AS c FROM l GROUP BY doc_id, line
    ), dup AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN c >= 2 THEN c * len(line) END), 0)
               AS dup_chars,
             sum(c * len(line)) AS tot_chars
      FROM counts GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.lines)::BIGINT AS n_lines,
           CASE WHEN len(t.lines) > 0
                THEN (len(t.lines) - len(list_distinct(t.lines)))::DOUBLE
                     / len(t.lines) ELSE 0.0 END AS dup_line_ratio,
           CASE WHEN coalesce(dup.tot_chars, 0) > 0
                THEN dup.dup_chars::DOUBLE / dup.tot_chars
                ELSE 0.0 END AS dup_line_char_ratio,
           CASE WHEN len(t.lines) > 0
                THEN len(list_filter(t.lines,
                         x -> regexp_matches(x, '^[-*•]')))::DOUBLE
                     / len(t.lines) ELSE 0.0 END AS bullet_ratio,
           CASE WHEN len(t.lines) > 0
                THEN len(list_filter(t.lines,
                         x -> regexp_matches(x, '[.!?]["'']?$')))::DOUBLE
                     / len(t.lines) ELSE 0.0 END AS terminal_ratio
    FROM t LEFT JOIN dup ON t.doc_id = dup.doc_id
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir, fan=True)
    g = TX.gopher_rules(F.col("text"))
    return d.select(
        "doc_id",
        g.getField("n_words").alias("n_words"),
        g.getField("mean_word_len").alias("mean_word_len"),
        g.getField("symbol_ratio").alias("symbol_ratio"),
        g.getField("alpha_word_ratio").alias("alpha_word_ratio"),
        g.getField("n_stopwords").alias("n_stopwords"),
        g.getField("passes").alias("passes"),
    )


QUERIES["gopher_rules"] = q_gopher_rules

_GOPHER_SW = ", ".join(f"'{w}'" for w in TX.GOPHER_STOPWORDS)

ORACLES["gopher_rules"] = f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks)::BIGINT AS n_words,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> len(x)))::DOUBLE
                       / len(toks) ELSE 0.0 END AS mean_word_len,
             CASE WHEN len(toks) > 0
                  THEN (len(regexp_extract_all(text, '#'))
                        + len(regexp_extract_all(text, '\\.\\.\\.')))::DOUBLE
                       / len(toks) ELSE 0.0 END AS symbol_ratio,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks,
                           x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
                       / len(toks) ELSE 0.0 END AS alpha_word_ratio,
             len(list_intersect(list_distinct(toks),
                                [{_GOPHER_SW}]))::BIGINT AS n_stopwords
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
           n_stopwords,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8
            AND n_stopwords >= 2) AS passes
    FROM m
"""


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning flags over a DERIVED punctuated corpus (the word-soup
    documents carry no sentence punctuation, so ' value ' becomes '. '
    and deterministic lorem-ipsum / brace markers attach by doc_id —
    the identical transform on both engines; the flags then vary
    genuinely across the corpus)."""
    d = _docs(spark, sf_dir)
    t2 = F.concat(
        F.regexp_replace(F.col("text"), " value ", ". "),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" {")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" lorem ipsum"))
        .otherwise(F.lit("")))
    c = TX.c4_rules(t2, sep=" the ")
    return d.select(
        "doc_id",
        c.getField("n_sentences").alias("n_sentences"),
        c.getField("terminal_line_ratio").alias("terminal_line_ratio"),
        c.getField("has_lorem_ipsum").alias("has_lorem_ipsum"),
        c.getField("has_brace").alias("has_brace"),
        c.getField("keep").alias("keep"),
    )


QUERIES["c4_rules"] = q_c4_rules

_C4_TXT = ("regexp_replace(text, ' value ', '. ', 'g')"
           " || CASE WHEN doc_id % 7 = 0 THEN ' {' ELSE '' END"
           " || CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum' ELSE '' END")

ORACLES["c4_rules"] = f"""
    WITH t AS (
      SELECT doc_id, {_C4_TXT} AS txt FROM documents
    ), l AS (
      SELECT doc_id, txt,
             list_filter(list_transform(
                 string_split_regex(trim(txt), ' the '), x -> trim(x)),
                 x -> len(x) > 0) AS lines,
             len(list_filter(list_transform(
                 string_split_regex(trim(txt), '[.!?]'), x -> trim(x)),
                 x -> len(x) > 0))::BIGINT AS n_sentences
      FROM t
    )
    SELECT doc_id, n_sentences,
           CASE WHEN len(lines) > 0
                THEN len(list_filter(lines,
                         x -> regexp_matches(x, '[.!?]["'']?$')))::DOUBLE
                     / len(lines) ELSE 0.0 END AS terminal_line_ratio,
           contains(lower(txt), 'lorem ipsum') AS has_lorem_ipsum,
           contains(txt, '{{') AS has_brace,
           (n_sentences >= 3 AND NOT contains(lower(txt), 'lorem ipsum')
            AND NOT contains(txt, '{{')) AS keep
    FROM l
"""


# --- embedding utilities (llm/similarity.py, round 7) ------------------------


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric absmax int8 quantization, verified end to end: scale,
    code checksum, and the exact per-vector max reconstruction error
    (all scalar; DuckDB replays the floor(x/scale + 0.5) half-up codes
    bit-identically — no round(), which diverges across engines)."""
    e = load_tables(spark, sf_dir, register=False)["embeddings"]
    q = SIM.int8_quantize(F.col("embedding"))
    d = e.select("vec_id", q.alias("q"), "embedding")
    return d.select(
        "vec_id",
        F.col("q.scale").alias("scale"),
        F.aggregate(F.col("q.codes"), F.lit(0).cast("long"),
                    lambda a, c: a + c).alias("code_sum"),
        F.array_max(F.zip_with(
            F.col("embedding"), F.col("q.codes"),
            lambda x, c: F.abs(x.cast("double")
                               - c.cast("double") * F.col("q.scale"))))
        .alias("max_err"),
    )


QUERIES["embed_quantize"] = q_embed_quantize

ORACLES["embed_quantize"] = """
    WITH q AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
               / 127.0 AS scale
      FROM embeddings
    ), c AS (
      SELECT vec_id, embedding, scale,
             CASE WHEN scale > 0
                  THEN list_transform(embedding,
                           x -> floor(x::DOUBLE / scale + 0.5)::INTEGER)
                  ELSE list_transform(embedding, x -> 0) END AS codes
      FROM q
    )
    SELECT vec_id, scale,
           list_sum(codes)::BIGINT AS code_sum,
           list_max([abs(embedding[i]::DOUBLE - codes[i] * scale)
                     for i in generate_series(1, len(embedding))])
             AS max_err
    FROM c
"""


def q_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l2_normalize verified through scalar probes: the norm itself, the
    sequential sum of normalized components, and the unit-norm residual
    |1 - ||v/||v|||| (exact double folds on both engines)."""
    e = load_tables(spark, sf_dir, register=False)["embeddings"]
    n = SIM.l2_normalize(F.col("embedding"))
    d = e.select("vec_id", n.alias("u"), "embedding")
    return d.select(
        "vec_id",
        SIM.l2_norm(F.col("embedding")).alias("norm"),
        F.aggregate(F.col("u"), F.lit(0.0), lambda a, x: a + x)
        .alias("comp_sum"),
        F.abs(F.lit(1.0) - SIM.l2_norm(F.col("u"))).alias("unit_residual"),
    )


QUERIES["embed_normalize"] = q_embed_normalize

ORACLES["embed_normalize"] = """
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                            for i in generate_series(1, len(embedding))]))
               AS norm
      FROM embeddings
    ), u AS (
      SELECT vec_id, norm,
             [embedding[i]::DOUBLE / nullif(norm, 0)
              for i in generate_series(1, len(embedding))] AS uv
      FROM n
    )
    SELECT vec_id, norm,
           list_sum(uv) AS comp_sum,
           abs(1.0 - sqrt(list_sum([uv[i] * uv[i]
                                    for i in generate_series(1, len(uv))])))
             AS unit_residual
    FROM u
"""


# --- benchmark decontamination (llm/text.py, round 7) ------------------------


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set n-gram overlap flags: the 'benchmark' derives
    deterministically from the corpus itself (first 12 tokens of every
    50th document), so the flags vary genuinely — the source documents
    contain their own prefix and must flag; unrelated docs mostly
    don't. 5-grams over the small synthetic vocabulary keep accidental
    overlap rare but nonzero."""
    d = _docs(spark, sf_dir, fan=True)
    bench = (d.filter(F.col("doc_id") % 50 == 0)
             .select(F.concat_ws(
                 " ", F.slice(TX.ws_tokens(TX.normalize_text(F.col("text"))),
                              1, 12)).alias("text")))
    flags = TX.ngram_overlap_flags(d, bench, n=5)
    return flags.select("doc_id", "n_overlap", "contaminated")


QUERIES["decontaminate"] = q_decontaminate

_GRAMS5 = ("[array_to_string(toks[i:i+4], ' ') "
           "for i in generate_series(1, greatest(len(toks) - 4, 0))]")

ORACLES["decontaminate"] = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct({_GRAMS5})) AS g FROM t
    ), btoks AS (
      SELECT {_TOKS.replace("text", "array_to_string(btoks12, ' ')")} AS toks
      FROM (SELECT toks[1:12] AS btoks12 FROM t WHERE doc_id % 50 = 0)
    ), bench AS (
      SELECT DISTINCT unnest(list_distinct({_GRAMS5})) AS g FROM btoks
    ), hits AS (
      SELECT doc_id, count(*) AS n_overlap
      FROM grams JOIN bench USING (g) GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(hits.n_overlap, 0)::BIGINT AS n_overlap,
           coalesce(hits.n_overlap, 0) >= 1 AS contaminated
    FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id
"""


# --- IVF-PQ (llm/similarity.py, round 7) -------------------------------------


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: IVF cells prune, ADC over m-int codes shortlists without
    touching corpus vectors, exact cosine reranks the shortlist. Same
    verdict pattern as ann_ivf_trained: DuckDB cannot replay the
    per-subspace k-means, so the row IS the in-plan recall contract —
    n_truth recomputed independently by the oracle, within_tol must
    hash-match `true` (recall@10 >= 0.9 against brute_force_topk, which
    ann_topk hash-verifies vs DuckDB). Deterministic end to end (seeded
    IVF centroids, decimal-exact k-means means), so the measured recall
    (0.92 at sf0.01, 0.93 at sf0.1) is bit-stable, not flaky. rerank is
    sized for the sweep scale's ~750-candidate pool; at sf0.01 it spans
    the whole pool, so the row degenerates to IVF recall there while
    still executing the full encode/ADC/shortlist plan."""
    e = load_tables(spark, sf_dir, register=False)["embeddings"]
    q = e.filter(F.col("vec_id") < 10)
    got = SIM.pq_topk(e, q, k=10, m=4, ksub=8, n_probe=6, rerank=300)
    truth = SIM.brute_force_topk(e, q, k=10)
    hit = got.select("qid", "nid").withColumn("hit", F.lit(1))
    return (truth.select("qid", "nid")
            .join(hit, ["qid", "nid"], "left")
            .agg(F.count(F.lit(1)).alias("n_truth"),
                 (F.sum(F.coalesce("hit", F.lit(0)))
                  / F.count(F.lit(1)) >= F.lit(0.9)).alias("within_tol")))


QUERIES["ann_pq"] = q_ann_pq

ORACLES["ann_pq"] = ORACLES["ann_ivf_trained"]


# ------------------------------------------------ r8: line dedup / norm / URL


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide C4-style line dedup: segments (split on ' the ' —
    the synthetic text has no newlines) keep only their first
    (doc_id, idx) occurrence across the WHOLE corpus; docs rebuilt.
    The DuckDB leg replays owner election with a window rank — an
    independent derivation of the same first-occurrence rule."""
    d = _docs(spark, sf_dir)
    return D.dedup_lines_global(d, "doc_id", "text",
                                sep=" the ", min_chars=3)


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization through the Arrow mapInPandas path. The
    corpus text is ASCII, so the query DECORATES it with composition
    cases first (combining acute, fullwidth compatibility forms, a tab)
    — NFC + Unicode lower + ws-collapse must then agree byte-for-byte
    with DuckDB's utf8proc-backed nfc_normalize/lower."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("Café  "), F.col("text"),
                 F.lit(" ＮＯ."), F.col("doc_id").cast("string"),
                 F.lit("\té")).alias("text"))
    return TX.normalize_corpus(d, ["text"], form="NFC") \
        .select("doc_id", F.col("text").alias("norm"))


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registered-domain extraction over messy
    synthesized URLs (mixed-case host, userinfo, default port, tracking
    params, unsorted query, fragment). The oracle derives the expected
    canonical form ANALYTICALLY from the same doc fields — an
    independent derivation, not a replay of the regex chain."""
    d = _docs(spark, sf_dir)
    url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("HTTP://User@WWW."), F.upper("source"),
                 F.lit(".Example.COM:80/Docs/"),
                 F.col("doc_id").cast("string"),
                 F.lit("?utm_source=feed&b="),
                 (F.col("doc_id") % 7).cast("string"),
                 F.lit("&a=1#Sec"))).otherwise(
        F.concat(F.lit("https://CDN."), F.col("source"),
                 F.lit(".example.net:443/X/"),
                 F.col("doc_id").cast("string"),
                 F.lit("?gclid=zz#f")))
    return d.select(
        "doc_id",
        TX.canonicalize_url(url).alias("canon"),
        TX.url_domain(url).alias("domain"))


QUERIES["dedup_lines"] = q_dedup_lines
QUERIES["normalize_text"] = q_normalize_text
QUERIES["url_canon"] = q_url_canon

ORACLES["dedup_lines"] = """
    WITH split AS (
        SELECT doc_id, string_split(text, ' the ') AS ls FROM documents
    ),
    lines AS (
        SELECT doc_id, unnest(ls) AS line,
               unnest(range(1, len(ls) + 1)) AS idx
        FROM split
    ),
    ranked AS (
        SELECT doc_id, idx, line,
               row_number() OVER (PARTITION BY line
                                  ORDER BY doc_id, idx) AS rn
        FROM lines
    ),
    kept AS (
        SELECT doc_id, idx, line FROM ranked
        WHERE rn = 1 OR length(line) < 3
    ),
    rebuilt AS (
        SELECT doc_id,
               string_agg(line, ' the ' ORDER BY idx) AS text_dedup,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id,
           coalesce(r.text_dedup, '') AS text_dedup,
           CAST(coalesce(r.n_kept, 0) AS INTEGER) AS n_kept,
           CAST(len(s.ls) AS INTEGER) AS n_lines
    FROM split s LEFT JOIN rebuilt r USING (doc_id)
"""

ORACLES["normalize_text"] = """
    SELECT doc_id,
           trim(regexp_replace(
               lower(nfc_normalize(
                   'Café  ' || text || ' ＮＯ.' || doc_id || chr(9)
                   || 'e' || chr(769))),
               '[ \t\n\r]+', ' ', 'g')) AS norm
    FROM documents
"""

ORACLES["url_canon"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0
                THEN 'http://www.' || lower(source)
                     || '.example.com/Docs/' || doc_id
                     || '?a=1&b=' || (doc_id % 7)
                ELSE 'https://cdn.' || source || '.example.net/X/'
                     || doc_id
           END AS canon,
           CASE WHEN doc_id % 2 = 0 THEN 'example.com'
                ELSE 'example.net' END AS domain
    FROM documents
"""


# --- repeated-span removal (llm/dedup.py dedup_spans_global, r8) --------------


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram-granular exact-substring dedup (Lee et al. 2021 rule as
    n-gram owner election): tokens covered by a non-owner occurrence of
    a corpus-duplicated 8-gram are removed; docs rebuilt. The oracle
    derives owner election INDEPENDENTLY with a window rank over the
    unnested gram stream — not a replay of the join chain."""
    return D.dedup_spans_global(_docs(spark, sf_dir, fan=True), n=8)


QUERIES["dedup_spans"] = q_dedup_spans

ORACLES["dedup_spans"] = f"""
    WITH toks AS (
      SELECT doc_id, {_RAW_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(t) - 8 + 1, 0))) AS gpos,
             unnest([array_to_string(t[i+1:i+8], ' ')
                     for i in range(0, greatest(len(t) - 8 + 1, 0))]) AS g
      FROM toks
    ), ranked AS (
      SELECT doc_id, gpos,
             row_number() OVER (PARTITION BY g
                                ORDER BY doc_id, gpos) AS rn,
             count(*) OVER (PARTITION BY g) AS cnt
      FROM grams
    ), covered AS (
      SELECT DISTINCT doc_id, idx FROM (
        SELECT doc_id, unnest(range(gpos, gpos + 8)) AS idx
        FROM ranked WHERE cnt > 1 AND rn > 1)
    ), tl AS (
      SELECT doc_id, unnest(t) AS tok,
             unnest(range(0, len(t))) AS idx
      FROM toks
    ), kept AS (
      SELECT tl.doc_id, tl.tok, tl.idx
      FROM tl LEFT JOIN covered USING (doc_id, idx)
      WHERE covered.idx IS NULL
    ), rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text_dedup,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(r.text_dedup, '') AS text_dedup,
           CAST(coalesce(r.n_kept, 0) AS INTEGER) AS n_kept,
           CAST(len(t.t) AS INTEGER) AS n_tokens
    FROM toks t LEFT JOIN rebuilt r USING (doc_id)
"""


# --- leakage-safe split (llm/sampling.py leakage_safe_split, r8) --------------


def q_leak_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware train/val split: LSH pairs → connected
    components → the CLUSTER is hash-assigned, so no duplicate group
    straddles a split boundary. Oracle = the dedup_cluster recursive-
    CTE closure + the hash_split md5 CASE applied to the component."""
    from jetro_spark.llm.sampling import leakage_safe_split

    d = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(d, "doc_id", "text", k=5, threshold=0.8)
    out = leakage_safe_split(d, pairs, {"train": 0.9, "val": 0.1},
                             seed=42)
    return out.select("doc_id", "component", "split")


QUERIES["leak_split"] = q_leak_split

_COMP_FRAC = """(CAST(list_sum([(strpos('0123456789abcdef',
    substr(substr(md5(component::VARCHAR || ':42'), 1, 8), i, 1)) - 1)
    * 16**(8-i) for i in generate_series(1, 8)]) AS BIGINT)
    / 4294967296.0)"""

# reuse dedup_cluster's WITH block verbatim (everything before its final
# SELECT) so the closure definition can never drift between the two rows
_CLUSTER_CTES = ORACLES["dedup_cluster"].rsplit("SELECT doc.doc_id", 1)[0]

ORACLES["leak_split"] = _CLUSTER_CTES + f"""
    SELECT doc_id, component,
           CASE WHEN {_COMP_FRAC} < 0.9 THEN 'train' ELSE 'val' END
             AS split
    FROM (SELECT doc.doc_id,
                 coalesce(c.component, doc.doc_id) AS component
          FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.id)
"""


# --- feature-hashing embeddings (llm/similarity.py hashed_embedding, r8) -----


def q_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free HashingTF document embedding (md5 buckets, ln(1+tf)
    weights, decimal-exact L2 norm), flattened to (doc_id, pos, v)
    scalar cells like label_centroids. DuckDB rebuilds the dense
    vector from a doc×dim grid and replays the same normalization."""
    e = SIM.hashed_embedding(_docs(spark, sf_dir, fan=True), dim=64, seed=9)
    return (e.select("doc_id", F.posexplode("embedding").alias("pos", "v"))
            .select("doc_id", "pos", F.round("v", 8).alias("v")))


QUERIES["hash_embed"] = q_hash_embed


def q_tfidf_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: TF-IDF-weighted feature-hash embedding — ln(1+tf) scaled by
    the smooth idf ln((N+1)/(df_b+1))+1 at the bucket grain (≤ dim df
    rows broadcast back; N attached as a one-row aggregate). Same
    flattened (doc_id, pos, v) contract as hash_embed."""
    e = SIM.hashed_embedding(_docs(spark, sf_dir, fan=True), dim=64, seed=9,
                             idf=True)
    return (e.select("doc_id", F.posexplode("embedding").alias("pos", "v"))
            .select("doc_id", "pos", F.round("v", 8).alias("v")))


QUERIES["tfidf_embed"] = q_tfidf_embed


def q_temp_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: temperature mixture re-weighting over the documents table's
    source groups (alpha = 0.5): q_i ∝ p_i^0.5 — the multilingual-
    pretraining sampling standard. One group-cardinality aggregate +
    two one-row scalar attaches."""
    from jetro_spark.llm.sampling import temperature_weights

    return temperature_weights(_docs(spark, sf_dir), "source", alpha=0.5)


QUERIES["temp_mixture"] = q_temp_mixture

def q_gram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: cross-source n-gram overlap matrix — distinct 3-grams shared
    by each unordered source pair. Gram group-sets are bounded by the
    number of groups, so the per-gram pair explosion is ≤ C(G,2)."""
    return TX.gram_overlap_matrix(_docs(spark, sf_dir, fan=True), "source",
                                  n=3)


QUERIES["gram_overlap"] = q_gram_overlap

_GRAMS3 = ("[array_to_string(toks[i:i+2], ' ') "
           "for i in generate_series(1, greatest(len(toks) - 2, 0))]")

ORACLES["gram_overlap"] = f"""
    WITH t AS (
      SELECT source, {_TOKS} AS toks FROM documents
    ), g AS (
      SELECT DISTINCT source AS grp, tok FROM (
        SELECT source, unnest(list_distinct({_GRAMS3})) AS tok FROM t)
    )
    SELECT a.grp AS src_a, b.grp AS src_b, count(*) AS n_shared
    FROM g a JOIN g b ON a.tok = b.tok AND a.grp < b.grp
    GROUP BY 1, 2
"""


def q_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: PII redaction — every third doc gets a synthetic email +
    phone appended (doc_id-derived, both engines build the same text),
    then pii_mask replaces the shapes with <EMAIL>/<PHONE> tokens.
    Row-local regexp_replace chain; counts are pre-mask."""
    d = _docs(spark, sf_dir, fan=True)
    doc_id = F.col("doc_id")
    synth = F.when(
        doc_id % 3 == 0,
        F.concat(F.col("text"), F.lit(" contact user"),
                 doc_id.cast("string"), F.lit("@example.com or call "),
                 F.lit("+1 (555) 000-"),
                 F.lpad((doc_id % 10_000).cast("string"), 4, "0"))
    ).otherwise(F.col("text"))
    t = d.select("doc_id", synth.alias("text"))
    return (t.select(
        "doc_id",
        TX.pii_mask(F.col("text")).alias("masked"),
        TX.pii_counts(F.col("text")).alias("__p"))
        .select("doc_id", "masked",
                F.col("__p.n_email").alias("n_email"),
                F.col("__p.n_phone").alias("n_phone")))


QUERIES["pii_mask"] = q_pii_mask

ORACLES["pii_mask"] = r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' contact user' || doc_id
                       || '@example.com or call +1 (555) 000-'
                       || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
               '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS masked,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
             AS n_email,
           len(regexp_extract_all(text,
               '\+?[0-9][0-9()\-. ]{7,}[0-9]'))::BIGINT AS n_phone
    FROM t
"""

ORACLES["temp_mixture"] = """
    WITH c AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ), t AS (
      SELECT sum(n)::DOUBLE AS tot FROM c
    ), pa AS (
      SELECT source, n, n / t.tot AS p,
             round(pow(n / t.tot, 0.5), 12) AS pa
      FROM c CROSS JOIN t
    ), z AS (
      SELECT CAST(sum(pa::DECIMAL(28,12)) AS DOUBLE) AS z FROM pa
    )
    SELECT source, n::BIGINT AS n, round(p, 6) AS p,
           round(pa / z.z, 6) AS q
    FROM pa CROSS JOIN z
"""

_HE_BUCKET = """CAST(CAST(list_sum([(strpos('0123456789abcdef',
    substr(substr(md5(tok || ':9'), 1, 8), i, 1)) - 1)
    * 16**(8-i) for i in generate_series(1, 8)]) AS BIGINT) % 64 AS INT)"""

ORACLES["tfidf_embed"] = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), tl AS (
      SELECT doc_id, {_HE_BUCKET} AS b
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
    ), tf AS (
      SELECT doc_id, b, round(ln(1.0::DOUBLE + count(*)), 6) AS w
      FROM tl GROUP BY doc_id, b
    ), dfb AS (
      SELECT b, count(*) AS df FROM tf GROUP BY b
    ), n AS (
      SELECT count(*)::DOUBLE AS n FROM documents
    ), tw AS (
      SELECT doc_id, b,
             round(w * round(ln((n.n + 1.0) / (dfb.df + 1.0)) + 1.0, 6),
                   6) AS w
      FROM tf JOIN dfb USING (b) CROSS JOIN n
    ), grid AS (
      SELECT doc_id, unnest(generate_series(0, 63)) AS pos
      FROM documents
    ), cells AS (
      SELECT g.doc_id, g.pos, coalesce(tw.w, 0.0::DOUBLE) AS w
      FROM grid g LEFT JOIN tw ON g.doc_id = tw.doc_id AND g.pos = tw.b
    ), norms AS (
      SELECT doc_id,
             CAST(sum((w * w)::DECIMAL(28,12)) AS DOUBLE) AS ss
      FROM cells GROUP BY doc_id
    )
    SELECT c.doc_id, c.pos,
           round(CASE WHEN n2.ss > 0 THEN c.w / sqrt(n2.ss) ELSE c.w END,
                 8) AS v
    FROM cells c JOIN norms n2 USING (doc_id)
"""

ORACLES["hash_embed"] = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), tl AS (
      SELECT doc_id, {_HE_BUCKET} AS b
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
    ), tw AS (
      SELECT doc_id, b, round(ln(1.0::DOUBLE + count(*)), 6) AS w
      FROM tl GROUP BY doc_id, b
    ), grid AS (
      SELECT doc_id, unnest(generate_series(0, 63)) AS pos
      FROM documents
    ), cells AS (
      SELECT g.doc_id, g.pos, coalesce(tw.w, 0.0::DOUBLE) AS w
      FROM grid g LEFT JOIN tw ON g.doc_id = tw.doc_id AND g.pos = tw.b
    ), norms AS (
      SELECT doc_id,
             CAST(sum((w * w)::DECIMAL(28,12)) AS DOUBLE) AS ss
      FROM cells GROUP BY doc_id
    )
    SELECT c.doc_id, c.pos,
           round(CASE WHEN n.ss > 0 THEN c.w / sqrt(n.ss) ELSE c.w END,
                 8) AS v
    FROM cells c JOIN norms n USING (doc_id)
"""


# --- r8 corpus-prep composition: span dedup -> LM filter -> split ------------


def q_pipeline_prep2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r8 additions composed end-to-end under one plan: repeated-
    span removal → length gate → self-trained bigram-LM quality filter
    over the DEDUPED text → deterministic train/val split. Like
    pipeline_demo, the oracle replays the whole chain as CTEs (the
    dedup_spans WITH block reused verbatim + the integer-micro LM mean
    + the md5 split CASE) — proving the r8 operators COMPOSE."""
    from jetro_spark.llm.dedup import dedup_spans_global
    from jetro_spark.llm.ranking import ngram_lm_score
    from jetro_spark.llm.sampling import hash_split

    d = _docs(spark, sf_dir)
    dd = dedup_spans_global(d, n=8).filter(F.col("n_kept") >= 30)
    lm = ngram_lm_score(
        dd.select("doc_id", F.col("text_dedup").alias("text")), alpha=0.1)
    j = dd.join(lm, "doc_id").filter(F.col("lm_score") > -3.4)
    out = hash_split(j, "doc_id", {"train": 0.9, "val": 0.1}, seed=11)
    return out.select("doc_id", "n_kept", "lm_score", "split")


QUERIES["pipeline_prep2"] = q_pipeline_prep2

_SPANS_CTES = ORACLES["dedup_spans"].rsplit("SELECT t.doc_id", 1)[0]
_TOKS_DD = _TOKS.replace("trim(text)", "trim(text_dedup)")
_P2_FRAC = _frac_of("doc_id::VARCHAR", 11)

ORACLES["pipeline_prep2"] = _SPANS_CTES + f"""
    , dd AS (
      SELECT t.doc_id,
             coalesce(r.text_dedup, '') AS text_dedup,
             CAST(coalesce(r.n_kept, 0) AS INTEGER) AS n_kept
      FROM toks t LEFT JOIN rebuilt r USING (doc_id)
      WHERE coalesce(r.n_kept, 0) >= 30
    ), t2 AS (
      SELECT doc_id, {_TOKS_DD} AS t FROM dd
    ), occ2 AS (
      SELECT doc_id, split_part(p, ' ', 1) AS w1,
             split_part(p, ' ', 2) AS w2
      FROM (SELECT doc_id,
                   unnest([t[i] || ' ' || t[i+1]
                           for i in generate_series(1, greatest(len(t) - 1, 0))])
                   AS p
            FROM t2)
    ), uni2 AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(t) AS w FROM t2) GROUP BY w
    ), bic2 AS (
      SELECT w1, w2, count(*) AS c12 FROM occ2 GROUP BY w1, w2
    ), v2 AS (
      SELECT count(*) AS v FROM uni2
    ), sums2 AS (
      SELECT doc_id,
             CAST(sum(round(ln(
                 (coalesce(c12, 0) + 0.1::DOUBLE)
                 / (coalesce(c1, 0) + 0.1::DOUBLE * v)), 6)::DECIMAL(28,10))
               * 1000000 AS BIGINT) AS s6,
             count(*) AS c
      FROM occ2
      LEFT JOIN bic2 USING (w1, w2)
      LEFT JOIN uni2 ON uni2.w = occ2.w1, v2
      GROUP BY doc_id
    ), scored2 AS (
      SELECT doc_id,
             (((2 * abs(s6) + c) // (2 * c))
              * (CASE WHEN s6 < 0 THEN -1 ELSE 1 END)) / 1000000.0
               AS lm_score
      FROM sums2
    )
    SELECT dd.doc_id, dd.n_kept, s.lm_score,
           CASE WHEN {_P2_FRAC} < 0.9 THEN 'train' ELSE 'val' END AS split
    FROM dd JOIN scored2 s USING (doc_id)
    WHERE s.lm_score > -3.4
"""
