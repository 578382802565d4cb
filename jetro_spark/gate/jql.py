"""Gate queries: jetro expression strings compiled by the JQL compiler in
RELATIONAL mode over the driver's tables (SURVEY.md §2.12, §7.1).

These are the language-level correctness gate: each query is a real jetro
expression string going parse → AST → relational lowering → DataFrame,
checked against a DuckDB ANSI-SQL oracle. Reference semantics:
jc/grammar.pest, jc/parse/ast.rs; lowering this replaces:
jc/compile/compiler.rs + jc/vm/exec.rs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from jetro_spark.jql.engine import JetroDocs, JetroTables
from jetro_spark.session import fan_out, load_tables


def _q(expr: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        tables = load_tables(spark, sf_dir, register=False)
        return JetroTables(spark, tables).query(expr)
    fn.__doc__ = f"jql: {expr}"
    return fn


def _flatten_groups(expr: str):
    """Run a group_by jql expression and flatten (key, value-array) to
    scalar-typed (key, pos, okey) rows — pos pins the within-group
    ORDER so the driver hash checks the r9 sorted-collect contract."""
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        tables = load_tables(spark, sf_dir, register=False)
        df = JetroTables(spark, tables).query(expr)
        return (df.select("key", F.posexplode("value").alias("pos", "e"))
                .select("key", F.col("pos").cast("long").alias("pos"),
                        F.col("e.o_orderkey").alias("okey")))
    fn.__doc__ = f"jql (flattened groups): {expr}"
    return fn


def q_jql_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-document engine (JetroEngine analog): one JSON document per
    orders row, ONE compiled plan over the whole DataFrame — document
    semantics at table scale, no per-doc recompilation."""
    # per-row JSON build + parse dominates — fan the unsplittable scan
    # (session.fan_out, guide §2.5)
    o = fan_out(load_tables(spark, sf_dir, register=False)["orders"])
    js = o.select(F.to_json(F.struct(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("total"),
        F.col("o_orderstatus").alias("status"))).alias("js"))
    jd = JetroDocs.from_json_strings(spark, js, "js")
    return jd.frame(
        "{id: $.id, flag: $.status.lower(), dbl: $.total * 2.0}"
    ).select("value.*")


def q_jql_docs_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide immutable patch (§2.11 at table scale): ONE compiled
    patch program applied to every document in parallel — guarded field
    add + in-place modify, the JetroEngine chain-write story without a
    per-doc driver loop."""
    o = load_tables(spark, sf_dir, register=False)["orders"]
    js = o.select(F.to_json(F.struct(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("total"),
        F.col("o_orderstatus").alias("status"))).alias("js"))
    jd = JetroDocs.from_json_strings(spark, js, "js")
    out = jd.frame(
        "patch $ {flagged: $.total > 300000.0, total: $.total / 100.0}")
    return out.select("value.*").select(
        "id", F.round("total", 4).alias("total"), "status", "flagged")


def q_jql_doc_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-mode pivot/implode/explode builtins (ops/array.rs:550-618,
    ops/collection.rs:497-553) over per-order documents: pivot is
    last-wins first-seen-order, implode groups by the other fields,
    explode emits one object per element of the named array field."""
    o = load_tables(spark, sf_dir, register=False)["orders"]
    js = o.select(F.to_json(F.struct(
        F.col("o_orderkey").alias("id"),
        F.array(
            F.struct(F.lit("x").alias("k"),
                     F.col("o_totalprice").alias("v")),
            F.struct(F.lit("y").alias("k"),
                     F.col("o_orderkey").cast("double").alias("v")),
            F.struct(F.lit("x").alias("k"),
                     F.col("o_custkey").cast("double").alias("v")),
        ).alias("items"),
        F.array(F.struct(
            F.lit(1).alias("g"),
            F.array_repeat(F.col("o_custkey"),
                           (F.col("o_orderkey") % 3).cast("int")).alias("xs"),
        )).alias("wrap"))).alias("js"))
    jd = JetroDocs.from_json_strings(spark, js, "js")
    return jd.frame(
        '{id: $.id,'
        ' px: $.items.pivot("k", "v").x,'
        ' py: $.items.pivot("k", "v").y,'
        ' nimp: $.items.implode(v).len(),'
        ' nex: $.wrap.explode(xs).len()}'
    ).select("value.*")


def q_jql_variant_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless deep search: per-order JSON parsed to a VARIANT root
    (no static schema at all) and deep-searched with `$..` — the
    bounded-depth runtime walk (compiler._variant_nodes) replacing the
    plan-time schema walk. Reference handles arbitrary byte streams
    (jc/lib.rs:354 from_bytes → exec/structural.rs)."""
    import pyspark.sql.types as T

    from jetro_spark.jql.compiler import TC, Compiler, Env
    from jetro_spark.jql.parser import parse as jparse

    o = load_tables(spark, sf_dir, register=False)["orders"]
    d = o.select(
        F.col("o_orderkey").alias("id"),
        F.parse_json(F.to_json(F.struct(
            F.struct(
                F.col("o_totalprice").alias("total"),
                F.struct(F.col("o_custkey").cast("double").alias("total"))
                .alias("nest")).alias("a"),
            F.col("o_orderstatus").alias("tag")))).alias("doc"))
    root = TC(F.col("doc"), T.VariantType(), doc=True)
    c = Compiler()

    def col_of(expr: str):
        return c.compile(jparse(expr), Env(root=root)).col

    return d.select(
        F.col("id"),
        col_of("$..total.sum()").alias("tsum"),
        col_of("$..total.len()").alias("ndeep"),
        col_of("$..tag.first()").cast("string").alias("tag"),
        col_of("$..").alias("__nodes")).select(
        "id", "tsum", "ndeep", "tag",
        F.size(F.col("__nodes")).cast("long").alias("nnodes"))


def q_jql_docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming JetroDocs: JSON-lines files → readStream → the SAME
    compiled per-document plan as jql_docs → AvailableNow → memory sink.
    The schema is inferred once from a batch sample (a stream cannot be
    sampled) and passed explicitly; transformations are batch/stream-
    agnostic so this is the document engine as a streaming operator."""
    import hashlib
    import uuid

    o = load_tables(spark, sf_dir, register=False)["orders"]
    js = o.select(F.to_json(F.struct(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("total"),
        F.col("o_orderstatus").alias("status"))).alias("value"))
    src = ("/tmp/jetro_docs_stream_"
           + hashlib.sha256(sf_dir.encode()).hexdigest()[:12])
    js.write.mode("overwrite").text(src)
    schema = JetroDocs.from_json_strings(spark, js, "value").schema
    stream = spark.readStream.format("text").load(src)
    jd = JetroDocs.from_json_strings(spark, stream, "value", schema=schema)
    out = jd.frame(
        "{id: $.id, flag: $.status.lower(), dbl: $.total * 2.0}"
    ).select("value.*")
    name = f"jql_docs_stream_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table(name)


QUERIES = {
    "jql_doc_pivot": q_jql_doc_pivot,
    "jql_variant_deep": q_jql_variant_deep,
    "jql_docs_stream": q_jql_docs_stream,
    # filter → where, map(ObjLit) → select (pushdown-eligible)
    "jql_filter_map": _q(
        "$.lineitem.filter(l_quantity > 45)"
        ".map({okey: l_orderkey, lnum: l_linenumber, qty: l_quantity})"),
    # multi-key sort + take → TakeOrderedAndProject (no full sort at scale)
    "jql_sort_take": _q(
        "$.orders.sort(-o_totalprice, o_orderkey).take(10)"
        ".map({okey: o_orderkey, total: o_totalprice})"),
    # accumulate running-sum shape → window prefix sum (no doc fallback;
    # integral values keep every prefix float-exact on both engines)
    "jql_accumulate": _q(
        "$.orders.sort(o_orderkey).map(o_orderkey)"
        ".accumulate((a, x) => a + x)"),
    # enumerate → row_number window over the pipeline order (relational
    # lowering of ops/collection.rs:409 — no doc fallback)
    "jql_enumerate": _q(
        "$.orders.sort(-o_totalprice, o_orderkey).take(25).enumerate()"
        ".map({rank: index, okey: value.o_orderkey, total: value.o_totalprice})"),
    # predicate count sink
    "jql_count_pred": _q(
        '$.orders.filter(o_orderstatus == "F" and o_totalprice > 100000).count()'),
    # numeric reducer over projection (integral doubles: order-exact)
    "jql_map_sum": _q("$.lineitem.map(l_quantity).sum()"),
    "jql_map_max": _q("$.orders.map(o_totalprice).max()"),
    # keyed reducer (stringified key, jetro object semantics)
    "jql_count_by": _q("$.orders.count_by(o_orderpriority)"),
    # r9 ordered group collect: group sequences are PIPELINE order
    # (sorted by the unique o_orderkey so the order is oracle-exact);
    # flattened via posexplode because gate outputs are scalar-typed —
    # pos IS the order contract the r9 sorted-collect realizes
    "jql_group_by": _flatten_groups(
        "$.orders.filter(o_totalprice > 150000).sort(-o_orderkey)"
        ".group_by(o_orderpriority)"),
    # comprehension → filter+project without materialization
    "jql_comprehension": _q(
        "[o.o_orderkey for o in $.orders if o.o_totalprice > 150000]"),
    # multi-generator comprehension → REAL join (INDEPTH.md:260-279):
    # the `if` equality becomes an extractable equi-join key (verified
    # BroadcastHashJoin + parquet PushedFilters in the plan, no
    # BroadcastNestedLoopJoin) — §2.5 comprehension cross-join
    "jql_comp_join": _q(
        "[{ok: o.o_orderkey, cname: c.c_name, tot: o.o_totalprice}"
        " for o in $.orders for c in $.customer"
        " if o.o_custkey == c.c_custkey and o.o_totalprice > 400000]"),
    # multi-document engine: per-row documents, one compiled plan
    "jql_docs": q_jql_docs,
    "jql_docs_patch": q_jql_docs_patch,
    # relational let: table-rooted binding = named sub-plan; scalar
    # binding folds into row scopes
    "jql_let": _q(
        "let thr = 100000 * 2, big = $.orders.filter(o_totalprice > thr)"
        " in big.map({okey: o_orderkey, tot: o_totalprice})"),
    # equi_join (inner, right-wins) + shaping
    "jql_equi_join": _q(
        '$.orders.equi_join($.customer, "o_custkey", "c_custkey")'
        ".map({okey: o_orderkey, cname: c_name, seg: c_mktsegment})"),
    # quantified predicates as single-row aggregates
    "jql_any_all": _q("$.lineitem.any(l_discount > 0.09)"),
    # map-into-shape sugar `[* if p] => {...}`
    "jql_map_shape": _q(
        "$.part[* if p_size > 40] => {pkey: p_partkey, name: p_name}"),
    # inline filter postfix `{pred}` + fuzzy match
    "jql_inline_filter": _q(
        '$.customer{c_mktsegment ~= "build"}.map({ckey: c_custkey})'),
    # unique on projection
    "jql_unique": _q("$.lineitem.map(l_returnflag).unique()"),
    # object transforms (§2.7): pick/keys/rename/merge/defaults/update/has
    # — schema-directed struct rebuilds, all plan-time (ops/path.rs:225,
    # ops/collection.rs:697-730)
    "obj_transform": _q(
        "$.customer.map(lambda c: {"
        "  id: c.c_custkey,"
        '  picked: {a: c.c_name, b: c.c_acctbal, x: c.c_mktsegment}.pick(a, b).keys().join(","),'
        '  renamed: {old: c.c_name}.rename({old: nw}).get_path("nw"),'
        '  merged: {a: c.c_acctbal}.merge({a: c.c_acctbal + 1, b: 2}).get_path("a"),'
        '  dflt: {a: null, b: c.c_name}.defaults({a: "zz"}).get_path("a"),'
        '  upd: {n: c.c_acctbal}.update("n", v => v * 2).get_path("n"),'
        '  has_a: {a: 1}.has("a")'
        "})"),
    # deep search (§2.10): $..field and deep_find over nested structs —
    # compiled as a plan-time schema walk (ops/array.rs:619-806,
    # exec/structural.rs replaced by static field-path expansion)
    "deep_search": _q(
        "$.orders.map(lambda o: let d = {"
        "  a: {total: o.o_totalprice, inner: {total: 2.0, tag: o.o_orderstatus}},"
        "  b: {tag: o.o_orderstatus}"
        "} in {"
        "  okey: o.o_orderkey,"
        "  tsum: d..total.sum(),"
        "  ntags: d..tag.len(),"
        '  nfind: d..find(@.tag == "F").len(),'
        "  first_tag: d..tag.first()"
        "})"),
    # path ops (§2.8): get/set/del_path, has_path, flatten_keys
    # (ops/path.rs:203-350)
    "path_ops": _q(
        "$.customer.map(lambda c: let o = {"
        "  cust: {id: c.c_custkey, name: c.c_name},"
        "  geo: {seg: c.c_mktsegment}"
        "} in {"
        "  id: c.c_custkey,"
        '  nm: o.get_path("cust.name"),'
        '  hasit: o.has_path("cust.name"),'
        '  hasnot: o.has_path("cust.zip"),'
        '  setv: o.set_path("geo.extra", 7).get_path("geo.extra"),'
        '  deleted: o.del_path("cust.name").get_path("cust.name") ?? "gone",'
        "  nflat: o.flatten_keys().len(),"
        "  flat1: o.flatten_keys().first().value"
        "})"),
    # patches (§2.11): sequential clauses, runtime `when` on existing
    # fields, DELETE, `[* if p]` wildcard writes with `@` = pre-write
    # leaf (vm/opcode.rs:408-530, tests/chain_write.rs) — all lowered to
    # one collapsed struct-rebuild Project per row
    "jql_patch": _q(
        "$.orders.map(lambda o:"
        " let d = {id: o.o_orderkey, price: o.o_totalprice,"
        "          status: o.o_orderstatus, tmp: 1,"
        "          items: [{q: 1.0, big: o.o_totalprice > 150000},"
        "                  {q: 2.0, big: true}]},"
        "     p = patch d {"
        "       price: @ * 2.0,"
        "       status: @.lower() when price > 100000,"
        "       tmp: DELETE,"
        "       items[* if big].q: @ + 10.0"
        "     }"
        " in {id: p.id, price: p.price, status: p.status,"
        "     q1: p.items[0].q, q2: p.items[1].q})"),
    # JSON/CSV conversion (§2.1): to_json exact string compare vs DuckDB's
    # compact JSON; to_csv/to_tsv values-only rows (helpers.rs:143-169)
    "jql_conv": _q(
        "$.customer.map(lambda c: {"
        "  id: c.c_custkey,"
        "  js: {k: c.c_name, seg: c.c_mktsegment}.to_json(),"
        "  nj: c.c_nationkey.to_json(),"
        "  csv: [{a: c.c_custkey, b: c.c_name}].to_csv(),"
        "  tsv: [[c.c_custkey, c.c_nationkey]].to_tsv()"
        "})"),
    # positional analytics in the LANGUAGE (§2.6): the pipeline's sort
    # order becomes a relational Window (ops/collection.rs:124-343; the
    # doc-mode forms of the same names run via functions/arrays.py).
    # rolling_avg: first n-1 positions null; rounded — Spark and DuckDB
    # disagree in the last float ulp of a sliding mean
    "jql_window": _q(
        "$.events.sort(event_id).map(value).rolling_avg(7).map(@.round(4))"),
    # chained window stages, exact doubles (subtract + running max)
    "jql_window_chain": _q(
        "$.events.sort(event_id).map(value).diff_window().cummax()"),
    # zscore lowers to a two-pass agg + broadcast join, not a window
    "jql_zscore": _q(
        "$.events.sort(event_id).map(value).zscore().map(@.round(4))"),
    # pipeline-position stages with native lowerings (logical stages
    # Last/Nth/Reverse/TakeWhile/DropWhile/FlatMap, jc/ir/logical.rs:
    # 16-57) — none of these may hit the single-task doc fallback
    "jql_last": _q(
        "$.orders.sort(o_orderkey).map({okey: o_orderkey, tot: o_totalprice})"
        ".last()"),
    "jql_nth_rev": _q(
        "$.orders.sort(o_orderkey).reverse().map({okey: o_orderkey}).nth(1)"),
    "jql_take_while": _q(
        "$.events.sort(event_id).take_while(value < 450)"
        ".map({eid: event_id, v: value})"),
    "jql_drop_while": _q(
        "$.events.sort(event_id).drop_while(value < 450).count()"),
    "jql_flat_map": _q("$.orders.flat_map([o_orderkey, o_custkey])"),
    # relational §2.1 sink: one quoted CSV line per row (helpers.rs:130-169)
    "jql_to_csv": _q(
        "$.customer.map({k: c_custkey, n: c_name, seg: c_mktsegment})"
        ".to_csv()"),
}

ORACLES = {
    "jql_docs_stream": """
        SELECT o_orderkey AS id, lower(o_orderstatus) AS flag,
               o_totalprice * 2.0 AS dbl
        FROM orders
    """,
    "jql_variant_deep": """
        SELECT o_orderkey AS id,
               o_totalprice + CAST(o_custkey AS DOUBLE) AS tsum,
               CAST(2 AS BIGINT) AS ndeep,
               o_orderstatus AS tag,
               CAST(6 AS BIGINT) AS nnodes
        FROM orders
    """,
    "jql_doc_pivot": """
        SELECT o_orderkey AS id,
               CAST(o_custkey AS DOUBLE) AS px,
               CAST(o_orderkey AS DOUBLE) AS py,
               CAST(2 AS BIGINT) AS nimp,
               o_orderkey % 3 AS nex
        FROM orders
    """,
    "jql_filter_map": """
        SELECT l_orderkey AS okey, l_linenumber AS lnum, l_quantity AS qty
        FROM lineitem WHERE l_quantity > 45
    """,
    "jql_accumulate": """
        SELECT CAST(sum(o_orderkey) OVER (ORDER BY o_orderkey
                                          ROWS UNBOUNDED PRECEDING)
                    AS DOUBLE) AS value
        FROM orders
    """,
    "jql_enumerate": """
        SELECT CAST(row_number() OVER (ORDER BY o_totalprice DESC,
                                       o_orderkey) - 1 AS BIGINT) AS rank,
               o_orderkey AS okey, o_totalprice AS total
        FROM (SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 25)
    """,
    "jql_sort_take": """
        SELECT o_orderkey AS okey, o_totalprice AS total
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    "jql_count_pred": """
        SELECT count(*) AS value FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 100000
    """,
    "jql_map_sum": """
        SELECT CAST(coalesce(sum(l_quantity), 0) AS DOUBLE) AS value FROM lineitem
    """,
    "jql_map_max": """
        SELECT max(o_totalprice) AS value FROM orders
    """,
    "jql_count_by": """
        SELECT CAST(o_orderpriority AS VARCHAR) AS key, count(*) AS value
        FROM orders GROUP BY o_orderpriority
    """,
    "jql_group_by": """
        SELECT CAST(o_orderpriority AS VARCHAR) AS key,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_orderkey DESC) - 1 AS pos,
               o_orderkey AS okey
        FROM orders WHERE o_totalprice > 150000
    """,
    "jql_comprehension": """
        SELECT o_orderkey FROM orders WHERE o_totalprice > 150000
    """,
    "jql_comp_join": """
        SELECT o.o_orderkey AS ok, c.c_name AS cname, o.o_totalprice AS tot
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > 400000
    """,
    "jql_let": """
        SELECT o_orderkey AS okey, o_totalprice AS tot
        FROM orders WHERE o_totalprice > 200000
    """,
    "jql_docs_patch": """
        SELECT o_orderkey AS id,
               round(o_totalprice / 100.0, 4) AS total,
               o_orderstatus AS status,
               o_totalprice > 300000.0 AS flagged
        FROM orders
    """,
    "jql_docs": """
        SELECT o_orderkey AS id, lower(o_orderstatus) AS flag,
               o_totalprice * 2.0 AS dbl
        FROM orders
    """,
    "jql_equi_join": """
        SELECT o_orderkey AS okey, c_name AS cname, c_mktsegment AS seg
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "jql_any_all": """
        SELECT coalesce(bool_or(l_discount > 0.09), false) AS value FROM lineitem
    """,
    "jql_map_shape": """
        SELECT p_partkey AS pkey, p_name AS name FROM part WHERE p_size > 40
    """,
    "jql_inline_filter": """
        SELECT c_custkey AS ckey FROM customer
        WHERE contains(lower(c_mktsegment), 'build')
    """,
    "jql_unique": """
        SELECT DISTINCT l_returnflag FROM lineitem
    """,
    "obj_transform": """
        SELECT c_custkey AS id,
               'a,b' AS picked,
               c_name AS renamed,
               c_acctbal + 1 AS merged,
               'zz' AS dflt,
               c_acctbal * 2 AS upd,
               true AS has_a
        FROM customer
    """,
    "deep_search": """
        SELECT o_orderkey AS okey,
               o_totalprice + 2.0 AS tsum,
               CAST(2 AS BIGINT) AS ntags,
               CAST(CASE WHEN o_orderstatus = 'F' THEN 2 ELSE 0 END AS BIGINT) AS nfind,
               o_orderstatus AS first_tag
        FROM orders
    """,
    "path_ops": """
        SELECT c_custkey AS id,
               c_name AS nm,
               true AS hasit,
               false AS hasnot,
               CAST(7 AS BIGINT) AS setv,
               'gone' AS deleted,
               CAST(3 AS BIGINT) AS nflat,
               CAST(c_custkey AS VARCHAR) AS flat1
        FROM customer
    """,
    "jql_patch": """
        SELECT o_orderkey AS id,
               o_totalprice * 2.0 AS price,
               CASE WHEN o_totalprice > 100000 THEN lower(o_orderstatus)
                    ELSE o_orderstatus END AS status,
               CASE WHEN o_totalprice > 150000 THEN 11.0 ELSE 1.0 END AS q1,
               12.0 AS q2
        FROM orders
    """,
    "jql_conv": """
        SELECT c_custkey AS id,
               '{"k":"' || c_name || '","seg":"' || c_mktsegment || '"}' AS js,
               CAST(c_nationkey AS VARCHAR) AS nj,
               c_custkey || ',' || c_name AS csv,
               c_custkey || chr(9) || c_nationkey AS tsv
        FROM customer
    """,
    "jql_window": """
        SELECT round(CASE WHEN rn >= 7 THEN ravg END, 4) AS value FROM (
            SELECT row_number() OVER (ORDER BY event_id) AS rn,
                   avg(value) OVER (ORDER BY event_id
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ravg
            FROM events)
    """,
    "jql_window_chain": """
        SELECT max(d) OVER (ORDER BY event_id
                            ROWS UNBOUNDED PRECEDING) AS value FROM (
            SELECT event_id,
                   value - lag(value) OVER (ORDER BY event_id) AS d
            FROM events)
    """,
    "jql_zscore": """
        SELECT round((value - avg(value) OVER ()) /
                     stddev_pop(value) OVER (), 4) AS value
        FROM events
    """,
    "jql_last": """
        SELECT o_orderkey AS okey, o_totalprice AS tot
        FROM orders ORDER BY o_orderkey DESC LIMIT 1
    """,
    "jql_nth_rev": """
        SELECT o_orderkey AS okey
        FROM orders ORDER BY o_orderkey DESC OFFSET 1 LIMIT 1
    """,
    "jql_take_while": """
        SELECT event_id AS eid, value AS v FROM (
            SELECT event_id, value,
                   sum(CASE WHEN value < 450 THEN 0 ELSE 1 END)
                       OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS cf
            FROM events) WHERE cf = 0
    """,
    "jql_drop_while": """
        SELECT count(*) AS value FROM (
            SELECT sum(CASE WHEN value < 450 THEN 0 ELSE 1 END)
                       OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS cf
            FROM events) WHERE cf >= 1
    """,
    "jql_flat_map": """
        SELECT o_orderkey AS value FROM orders
        UNION ALL SELECT o_custkey FROM orders
    """,
    "jql_to_csv": """
        SELECT c_custkey || ',' || c_name || ',' || c_mktsegment AS line
        FROM customer
    """,
}
