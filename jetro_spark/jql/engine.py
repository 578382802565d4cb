"""JQL engine entry points — the jetro public API re-expressed on Spark.

Two execution modes share one expression compiler (SURVEY.md §7.1):

- **Document mode** (`Jetro`): jetro-compatible. One JSON document per
  DataFrame row (here: one row total); `$` navigates a struct column and
  array pipelines run as higher-order functions. Mirrors
  ``Jetro::from_bytes(bytes).collect(expr)`` (jc/lib.rs:354,477).

- **Relational mode** (`JetroTables`): the scale path. A pipeline rooted
  at a registered table (`$.orders...`) compiles stage-by-stage to
  DataFrame transformations — filter→where, map→select, sort→orderBy,
  group_by→groupBy — inheriting shuffle/spill/AQE/pushdown, so the same
  expression that runs on a 20k-order document runs on a 100 TB table.
  Stages with no relational lowering fall back to document mode by
  collapsing the remaining pipeline onto a collected array (correct but
  single-task; a warning marks the scale cliff).

Schema inference for documents is ours, not spark.read.json's: Spark
sorts JSON fields alphabetically, but jetro objects are insertion-ordered
(IndexMap, value.rs:47) and field order is observable in results.
"""

from __future__ import annotations

import json
import warnings

from pyspark.errors.exceptions.base import AnalysisException
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jetro_spark.functions.core import jt_truthy
from jetro_spark.jql import ast as A
from jetro_spark.jql.compiler import (
    TC,
    Compiler,
    CompileError,
    Env,
    is_objrepr,
    unify,
    union_struct,
)
from jetro_spark.jql.parser import parse
from jetro_spark.localrel import (
    compile_warm,
    fresh_execute,
    local_doc_frame,
    plan_size_estimate,
    to_local_relation,
)
from jetro_spark.operators import relational as R

# ------------------------------------------------------------ doc ingest


def infer_schema(v) -> T.DataType:
    """Insertion-order-preserving schema inference (vs read.json's
    alphabetical sort). Int→Long, Float→Double (value.rs:27-29).

    Nullability is computed EXACTLY from the literal (r14): a struct
    field is nullable only when its value IS null somewhere (or the
    field is missing in some array element — _union_struct_dyn), an
    array has containsNull only when a null element exists. Sound
    because the inferred schema describes one pinned literal document,
    and the claims let the compiler skip impossible-null scaffolding
    (the string-unique null/"null" collision fixup, null probes).
    Multi-document SAMPLED inference must NOT inherit these claims —
    JetroDocs parses via from_json, whose runtime schema Spark forces
    nullable (and self.schema is read back from the parsed column), so
    unsampled documents can't violate a tight flag."""
    if v is None:
        return T.NullType()
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, dict):
        return T.StructType([
            T.StructField(k, infer_schema(x), x is None)
            for k, x in v.items()])
    if isinstance(v, (list, tuple)):
        elem_schemas = [infer_schema(x) for x in v]
        has_null = any(x is None for x in v)
        structs = [s for s in elem_schemas if isinstance(s, T.StructType)]
        if structs and len(structs) == len(elem_schemas):
            return T.ArrayType(_union_struct_dyn(structs), has_null)
        u = unify(elem_schemas)
        if u is None:
            # heterogeneous elements ([1, "x", true]) — variant keeps
            # each element's dynamic kind (mirrors the reference's Val)
            return T.ArrayType(T.VariantType())
        return T.ArrayType(u or T.NullType(), has_null)
    raise TypeError(f"cannot infer schema for {type(v).__name__}")


def _union_struct_dyn(sts: list[T.StructType]) -> T.StructType:
    """union_struct, but a field whose types CONFLICT across elements
    (v: 1 vs v: "hello") becomes variant instead of first-wins.
    A field is nullable only when it is MISSING in some element (the
    null pad) or null somewhere it appears (r14 exact-nullability)."""
    merged = union_struct(sts)
    out = []
    for f in merged.fields:
        present = [st[f.name] for st in sts if f.name in st.fieldNames()]
        dts = [pf.dataType for pf in present]
        nullable = (len(present) < len(sts)
                    or any(pf.nullable for pf in present))
        u = unify(dts)
        out.append(T.StructField(
            f.name, f.dataType if u is not None else T.VariantType(),
            nullable))
    return T.StructType(out)


def _to_row(v, dt: T.DataType):
    if v is None:
        return None
    if isinstance(dt, T.VariantType):
        from pyspark.sql.types import VariantVal
        return VariantVal.parseJson(json.dumps(v))
    if isinstance(dt, T.StructType):
        src = v if isinstance(v, dict) else {}
        return tuple(_to_row(src.get(f.name), f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return [_to_row(x, dt.elementType) for x in v]
    if isinstance(dt, T.DoubleType) and isinstance(v, int):
        return float(v)
    return v


def to_python(v):
    """Row/array output → plain JSON-able Python (ordered dicts).

    The ordered-object representation (list of {key, value} entries —
    group_by, dynamic object literals, dict comprehensions) converts to
    a plain insertion-ordered dict with last-wins on duplicate keys,
    matching jetro's Val::Obj presentation (IndexMap, value.rs:47)."""
    from pyspark.sql.types import VariantVal
    if isinstance(v, VariantVal):
        return v.toPython()
    if isinstance(v, Row):
        v = {k: to_python(x) for k, x in zip(v.__fields__, v)}
        if v and all(k == f"__p{i}" for i, k in enumerate(v)):
            return list(v.values())  # mixed-type tuple (zip pairs)
    elif isinstance(v, list):
        v = [to_python(x) for x in v]
        if v and all(isinstance(e, dict) and set(e) == {"key", "value"}
                     for e in v):
            out = {}
            for e in v:
                out[e["key"]] = e["value"]  # last-wins, first-seen order
            return out
    elif isinstance(v, dict):
        v = {k: to_python(x) for k, x in v.items()}
    return v


def objrepr_to_dict(v):
    """[{key, value}] ordered-object output → dict (test convenience;
    identity on already-converted dicts)."""
    if isinstance(v, dict):
        return v
    return {e["key"]: e["value"] for e in v}


def _apply_lambda(spark: SparkSession, lam: A.Node, value):
    """One rec() iteration: evaluate λ against a collected value by
    re-ingesting it as a single-field document."""
    sub = Jetro.from_value(spark, {"v": value})
    root = sub.root()
    from jetro_spark.jql.compiler import field_access

    vtc = field_access(root, "v")
    env = Env(root=root, current=vtc)
    body = lam
    if isinstance(lam, A.Lambda):
        env = env.bind(lam.params[0], vtc)
        body = lam.body
    tc = Compiler().compile(body, env)
    return to_python(sub.df.select(tc.col.alias("value")).first()["value"])


def _vis_cols(df: DataFrame) -> list[str]:
    """Visible (non-``__ord``) columns — the pipeline's data columns."""
    return [c for c in df.columns if not c.startswith("__ord")]


def _order_by(order: list) -> list[Column]:
    """[(Column, desc)] sort spec → orderBy arguments.

    NULL-key placement is encoded as data, not rendering: the sort
    stage prepends an explicit ``(key.isNull(), desc=True)`` flag entry
    per user key (see _null_first_keys), so null keys sort FIRST in
    both directions — the doc-mode convention — and every mechanical
    transform of an order list (reverse's flag flip, last/nth's
    inverted rendering) moves the nulls correctly without null-aware
    rendering here. The reference's comparator treats Null as EQUAL to
    everything (json_cmp_vals' fallthrough arm, util.rs:133) — a
    non-transitive comparator no distributed total-order sort can
    reproduce — so the engine canonicalizes on nulls-first; both modes
    agree (r11, found by the null-key d-table soak vocab)."""
    return [c.desc() if d else c.asc() for c, d in order]


def _null_first_keys(keys: list) -> list:
    """Expand each user sort key into (isNull flag, key): the flag's
    desc=True puts null keys FIRST under the normal rendering, LAST
    under reverse's flag flip and last/nth's inverted rendering —
    exactly how doc mode's nulls-first sequence behaves when reversed
    or read from the back (r11)."""
    return [k for col2, d2 in keys
            for k in ((col2.isNull().cast("int"), True), (col2, d2))]


def _collected_elems(df: DataFrame, elem: Column, order: list | None,
                     elem_dt: T.DataType | None = None):
    """(tagged_df, array_expr): the pipeline's elements as ONE array,
    pipeline order preserved via a row_number tag when an order is live.
    The struct wrapper matters in both branches: bare collect_list drops
    null elements, doc arrays keep them. Shared by the join/to_json
    sinks and the doc fallback's collect.

    ``elem_dt`` (r11): the element's dtype, forwarded to sort_by_field
    so ORDERABLE payloads keep the codegen'd native array_sort instead
    of always paying the interpreted comparator (the b78d241 gate never
    applied on this shared path)."""
    if order is not None:
        from pyspark.sql.window import Window
        w = Window.orderBy(*_order_by(order))
        tagged = df.select(F.row_number().over(w).alias("__oc_rn"),
                           elem.alias("__oc_e"))
        arr = F.transform(
            R.sort_by_field(F.collect_list(F.struct("__oc_rn", "__oc_e")),
                            "__oc_rn", payload_dt=elem_dt),
            lambda s: s["__oc_e"])
    else:
        tagged = df
        arr = F.transform(
            F.collect_list(F.struct(elem.alias("__oc_e"))),
            lambda s: s["__oc_e"])
    return tagged, arr


def _join_key_kwargs(ldt: T.DataType, rdt: T.DataType,
                     lk: str, rk: str) -> dict:
    """equi_join key-match kwargs per the reference's val_to_key
    convention (util.rs:216-226): a present-but-null key renders as
    the "null" bucket and MATCHES its peers (array.rs:505-531).

    SAME-family NON-STRING atomic keys take ``eqNullSafe`` — identical
    semantics to the canonical "null" bucket on native hash keys (Spark
    extracts EqualNullSafe as an equi-join key; NaN<=>NaN and
    -0.0<=>0.0 agree with _canon_str's rendering). STRING keys must NOT
    (r12 advice): val_to_key renders a present-null key as the string
    "null", which COLLIDES with a literal string key "null"
    (util.rs:216-226 → array.rs:505-531) — eqNullSafe keeps them
    distinct, so strings route through the canonical-string kwargs
    (coalesce(col, 'null'), still a plain hash-joinable equi
    condition), matching doc mode's path (compiler.py _join key
    rendering). Cross-family / variant / complex keys join on the
    canonical STRING both engine modes share (_canon_str,
    null → 'null'). int-vs-float stays canonical (eqNullSafe would
    cast longs through double and collide keys past 2^53 where
    val_to_key strings differ)."""
    from jetro_spark.jql.compiler import _canon_str

    ints = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    flts = (T.FloatType, T.DoubleType)
    for fam in (ints, flts, T.BooleanType,
                T.DateType, T.TimestampType):
        if isinstance(ldt, fam) and isinstance(rdt, fam):
            return {"null_safe": True}
    return {"lkey_col": F.coalesce(_canon_str(F.col(lk), ldt),
                                   F.lit("null")),
            "rkey_col": F.coalesce(_canon_str(F.col(rk), rdt),
                                   F.lit("null"))}


def _analyzed_select(df: DataFrame, col: Column) -> DataFrame:
    """select() with analyzer failures surfaced as CompileError.

    Catalyst's analyzer IS this engine's type checker: a stage applied to
    an incompatible input (e.g. an array method on a scalar —
    `$.x.count().filter(p)`) resolves to an ill-typed plan. Surfacing it
    as the language's own error type keeps the reference's contract that
    any input yields a result or a controlled query error
    (fuzz_targets/collect.rs: "must not panic")."""
    try:
        return df.select(col)
    except AnalysisException as exc:
        raise CompileError(
            f"expression is ill-typed for this document: "
            f"{exc.getMessage() if hasattr(exc, 'getMessage') else exc}"
        ) from exc


# Compiled plans (and warm handles) one Jetro handle keeps, one per
# expression string. An entry holds a plan's driver-side objects only;
# the bound caps a long-lived handle fed ever-new expressions.
PLAN_CACHE_MAX = 256


def _remember(cache: dict, key, value) -> None:
    """cache[key] = value, evicting the oldest entry past PLAN_CACHE_MAX."""
    if len(cache) >= PLAN_CACHE_MAX:
        del cache[next(iter(cache))]
    cache[key] = value


class Jetro:
    """Document-mode handle: ``Jetro.from_bytes(spark, data).collect(expr)``.
    Reference API: jc/lib.rs:354-380 (from_bytes), :477 (collect)."""

    def __init__(self, spark: SparkSession, value, *,
                 checkpoint: bool = False, local: bool | None = None):
        wrapped = value if isinstance(value, dict) else {"__root__": value}
        self.schema: T.StructType = infer_schema(wrapped)
        self._wrapped_scalar = not isinstance(value, dict)
        if local is None:
            local = not checkpoint
        if local and not checkpoint:
            # Zero-job ingest: JSON → driver-side JVM from_json eval →
            # LocalRelation. No createDataFrame, so no job whose task
            # embeds the multi-MB pickled document (the TaskSetManager
            # large-task warning this retires). Falls through to the
            # createDataFrame path on any unsupported shape.
            folded = local_doc_frame(spark, wrapped, self.schema)
            if folded is not None:
                self.df = folded
                self.spark = spark
                self._plan_cache = {}
                self._warm_cache = {}
                return
        row = _to_row(wrapped, self.schema)
        df = spark.createDataFrame(
            [(row,)], T.StructType([T.StructField("__doc", self.schema, False)]))
        if local:
            # One document = one row: distribute nothing. Rebuilding the
            # frame as a JVM LocalRelation lets Catalyst's
            # ConvertToLocalRelation rule evaluate Project-shaped queries
            # eagerly on the driver — collect() returns with ZERO jobs,
            # dropping the ~40-80 ms single-task dispatch floor.
            # Table-scale pipelines (JetroTables/JetroDocs) never come
            # through here. When conversion succeeds it supersedes
            # checkpoint (the LocalRelation already embeds the
            # materialized rows — there is no lineage left to truncate).
            converted = to_local_relation(df)
            if converted is not None:
                df = converted
                checkpoint = False
            else:
                # No classic-JVM surface (Spark Connect, version drift):
                # without the LocalRelation fold the frame stays a
                # ParallelCollectionRDD whose partitions embed the whole
                # document — every downstream task would ship it. Fall
                # back to a lineage-truncating checkpoint instead.
                checkpoint = True
        if checkpoint:
            # A ParallelCollectionRDD embeds the document in its Partition
            # objects, so EVERY downstream task ships the whole doc (MBs)
            # even on a cache hit. localCheckpoint truncates the lineage:
            # tasks then reference storage blocks by id. Worth the one-off
            # materialization for large documents queried repeatedly.
            df = df.coalesce(1).localCheckpoint(eager=True)
        self.df = df
        self.spark = spark
        # expr -> compiled DataFrame, or the CompileError it raised
        self._plan_cache: dict[str, DataFrame | CompileError] = {}
        # expr -> WarmQuery | None (None = warm path unavailable, use
        # fresh_execute); False sentinel = not yet compiled
        self._warm_cache: dict[str, object] = {}

    @classmethod
    def from_bytes(cls, spark: SparkSession, data: bytes | str,
                   *, checkpoint: bool = False,
                   local: bool | None = None) -> "Jetro":
        if isinstance(data, bytes):
            data = data.decode("utf-8")
        return cls(spark, json.loads(data), checkpoint=checkpoint, local=local)

    @classmethod
    def from_value(cls, spark: SparkSession, value,
                   *, checkpoint: bool = False,
                   local: bool | None = None) -> "Jetro":
        return cls(spark, value, checkpoint=checkpoint, local=local)

    def root(self) -> TC:
        base = TC(F.col("__doc"), self.schema, doc=True)
        if self._wrapped_scalar:
            return TC(base.col.getField("__root__"),
                      self.schema["__root__"].dataType, doc=True)
        return base

    def _env(self) -> Env:
        # py_eval: evaluate a Column against the one-row doc frame at
        # compile time — the scalar context for schema-changing patch
        # guards (see jetro_spark.jql.patch docstring)
        return Env(root=self.root(),
                   py_eval=lambda c: self.df.select(c.alias("v")).first()["v"])

    def frame(self, expr: str) -> DataFrame:
        """Compile expr → one-row DataFrame (column ``value``). The bench
        path: lets the noop sink run the query without driver collect.

        Compiled plans are memoized per expression (DataFrames are
        immutable). This is the Spark analog of the reference's plan +
        pointer caches (jc/lib.rs "hits the pointer cache on repeat
        calls"): deep-search expressions spend 0.5-1.3 s building the
        schema-walk Column tree through py4j — paid once. A CompileError
        is memoized too and raised again. At most ``PLAN_CACHE_MAX``
        expressions are kept; the oldest goes first."""
        return self._frame(expr)

    def _frame(self, expr: str, node: A.Node | None = None) -> DataFrame:
        plan = self._plan_cache.get(expr)
        if plan is None:
            try:
                tc = Compiler().compile(parse(expr) if node is None else node,
                                        self._env())
                plan = _analyzed_select(self.df, tc.col.alias("value"))
            except CompileError as exc:
                plan = exc
            _remember(self._plan_cache, expr, plan)
        if isinstance(plan, CompileError):
            raise plan.with_traceback(None)
        return plan

    def execute(self, expr: str) -> int:
        """Run ``expr`` end-to-end and materialize the result in engine
        (JVM) memory; returns the row count (-1 on the distributed
        fallback path, where counting would need a second execution).
        Unlike ``collect`` this skips
        the JVM→Python conversion — the counterpart of the reference
        producing an in-process Value (jc/lib.rs:477).

        Warm-plan protocol (matches the reference's plan + pointer
        caches, bench_lock.rs:11-18): the FIRST call per expression pays
        parse + analysis + optimization + projection codegen; every
        later call re-evaluates the full optimized expression tree over
        the document (localrel.WarmQuery). Where the warm handle can't
        be built (non-Project plans, Spark Connect), each call pays a
        fresh QueryExecution instead."""
        wq = self._warm_cache.get(expr, False)
        if wq is False:
            wq = compile_warm(self.frame(expr))
            _remember(self._warm_cache, expr, wq)
        if wq is not None:
            return wq.run()
        df = self.frame(expr)
        n = fresh_execute(df)
        if n is None:  # no classic-JVM surface: distributed fallback.
            # ONE materialization, via the noop sink: count() would let
            # Catalyst column-prune the entire `value` projection away
            # (Aggregate(count(1)) needs no columns) and time nothing.
            # Row count is unknowable without a second execution, so
            # return -1 (callers use execute() for timing/materialization,
            # not cardinality).
            df.write.format("noop").mode("overwrite").save()
            return -1
        return n

    def collect(self, expr: str):
        """Evaluate and return a plain Python value (jetro collect()).

        Reuses the compiled plan that ``frame``/``execute`` memoize, so a
        repeated expression skips parsing, compilation and analysis and
        only runs the plan (a handle's document never changes, so the
        plan stays valid). ``rec(λ)`` expressions are not cached: their
        fixpoint loop compiles each step against the value before it."""
        node = None
        if expr not in self._plan_cache:
            node = parse(expr)
            # rec(λ): apply to fixpoint — a driver-side loop (SURVEY
            # §2.10); data-dependent iteration counts can't live in one
            # static plan. Reference: ops/array.rs:741-758 rec_apply (10k
            # iteration cap).
            if (isinstance(node, A.Path) and node.steps
                    and isinstance(node.steps[-1], A.Method)
                    and node.steps[-1].name == "rec"):
                lam = node.steps[-1].args[0].value
                base: A.Node = (A.Path(node.base, node.steps[:-1])
                                if len(node.steps) > 1 else node.base)
                value = self._collect_node(base)
                for _ in range(10_000):
                    nxt = _apply_lambda(self.spark, lam, value)
                    if nxt == value:
                        return nxt
                    value = nxt
                raise CompileError(
                    "rec: exceeded 10000 iterations without fixpoint")
        return to_python(self._frame(expr, node).first()["value"])

    def _collect_node(self, node: A.Node):
        tc = Compiler().compile(node, self._env())
        df = _analyzed_select(self.df, tc.col.alias("value"))
        return to_python(df.first()["value"])


# ------------------------------------------------------- relational mode


_REL_TERMINALS = {"count", "sum", "avg", "min", "max", "any", "exists", "all",
                  "len", "approx_count_distinct"}

# positional analytics (§2.6) with a relational Window lowering
_WINDOW_STAGES = {"lag", "lead", "rolling_sum", "rolling_avg", "rolling_min",
                  "rolling_max", "cummax", "cummin", "cum_max", "cum_min",
                  "diff_window", "pct_change", "zscore"}

# Stages whose semantics are defined by the pipeline's SEQUENCE order.
# With no .sort(...) upstream they historically collapsed to the doc
# fallback; since r8 they lower off the scan-order surrogate whenever
# the physical row order still IS the document order (see _scan_ok).
_ORDER_HUNGRY = _WINDOW_STAGES | {
    "last", "nth", "enumerate", "chunk", "pairwise", "reverse",
    "take_while", "drop_while", "takewhile", "dropwhile", "accumulate",
    "window", "unique", "distinct", "unique_by",
    # set ops keep the RECEIVER's document order (and ordered union
    # appends the other table's own order) — route unsorted pipelines
    # through the order-restoring branches so the output sequence stays
    # doc-faithful (r8 2500-soak catch: diff's left_anti shuffle order
    # leaked into a downstream accumulate)
    "diff", "intersect", "union",
    # keyed reducers whose doc semantics read pipeline order: group_by
    # collects groups IN ORDER, index_by/pivot are last-wins, pivot3 /
    # group_shape collect per-cell/per-group sequences (r9 —
    # collect_list arrival order is arbitrary under real multi-mapper
    # shuffles; these now sort collected elements by a scan-order
    # surrogate and fall back honestly when order is unrecoverable)
    "group_by", "index_by", "implode", "pivot", "group_shape"}

# Stages after which the PHYSICAL row order still equals the document
# order when no explicit order is carried: narrow transformations
# (filter/projection/generate/limit — no exchange, partition order
# kept) and single-row/scalar sinks (any order of one row is every
# order). A stage outside this set that completes with no carried
# order invalidates the scan-order surrogate for the rest of the
# pipeline (its output row order is shuffle-arbitrary).
_SCAN_KEEPERS = {
    "filter", "map", "take", "drop", "skip", "first", "flat_map", "explode",
    "compact", "flatten", "remove", "find", "min_by", "max_by",
    "count", "len", "sum", "avg", "min", "max", "any", "all", "exists",
    "approx_count_distinct", "to_json", "to_csv", "to_tsv", "join",
    "includes", "index_of", "indices_of", "partition"}


def _keeps_scan_order(step) -> bool:
    if isinstance(step, (A.InlineFilter, A.MapShape, A.Index, A.Slice,
                         A.Quantifier)):
        return True
    return isinstance(step, A.Method) and step.name in _SCAN_KEEPERS


# Stages that never READ the pipeline's order: projections, filters,
# order-insensitive reducers (multiset semantics), and keyed reducers
# whose doc/relational comparison contract is order-normalized
# (count_by). Everything else — positional stages, windows, sorts
# (stable ties), min_by/max_by (ties), first-seen/last-wins keyed
# reducers (unique_by, index_by, group_by's collected group order),
# find_index/index_of, and any stage that might doc-fallback — is
# conservatively treated as an order CONSUMER.
_ORDER_BLIND = {"map", "filter", "count_by", "sum", "avg", "min", "max",
                "len", "count", "any", "all", "approx_count_distinct",
                "includes", "compact", "equi_join", "explode"}


def _order_blind(step) -> bool:
    if isinstance(step, (A.InlineFilter, A.MapShape, A.Quantifier)):
        return True
    return isinstance(step, A.Method) and step.name in _ORDER_BLIND


class JetroDocs:
    """Multi-document engine — the reference's ``JetroEngine`` (explicit
    plan cache + shared VM for long-lived multi-document use,
    jetro-core/README.md:448-453) generalized to Spark scale: ONE
    compiled plan applied to a whole DataFrame of documents, one
    document per row. Where the reference replays a cached program per
    document on one thread, here the same Column plan executes over
    every row in parallel — document-mode semantics at table scale
    (millions of JSON documents, partitioned, pushdown-pruned).

    ``from_json_strings`` ingests a string column of JSON documents:
    insertion-ordered schema inferred from a driver-side sample (vs
    spark.read.json's alphabetical sort — field order is observable in
    jetro results), then a single JVM-side ``from_json`` parse."""

    def __init__(self, spark: SparkSession, df: DataFrame,
                 doc_col: str = "doc"):
        self.spark = spark
        self.df = df
        self.doc_col = doc_col
        self.schema = df.schema[doc_col].dataType
        self._plan_cache: dict[str, Column] = {}

    @classmethod
    def from_json_strings(cls, spark: SparkSession, df: DataFrame,
                          json_col: str, *, sample: int = 200,
                          doc_col: str = "doc",
                          schema: T.StructType | None = None) -> "JetroDocs":
        """``schema=None`` infers from a driver-side sample (batch input
        only). A STREAMING DataFrame cannot be sampled — pass the schema
        explicitly (e.g. inferred once from a batch slice of the same
        source); every transformation here is batch/stream-agnostic, so
        the same compiled plan then runs under readStream/writeStream."""
        if schema is None:
            if df.isStreaming:
                raise ValueError(
                    "streaming input cannot be sampled for schema "
                    "inference; pass schema= (infer it from a batch "
                    "sample of the same source)")
            rows = [r[0] for r in df.select(json_col).limit(sample).collect()
                    if r[0] is not None]
            if not rows:
                raise ValueError("no sample documents to infer a schema from")
            schemas = [infer_schema(json.loads(s)) for s in rows]
            structs = [s for s in schemas if isinstance(s, T.StructType)]
            if len(structs) != len(schemas):
                raise ValueError("every document must be a JSON object")
            schema = _union_struct_dyn(structs)
        parsed = df.withColumn(doc_col, F.from_json(F.col(json_col), schema))
        return cls(spark, parsed, doc_col)

    def _compile(self, expr: str) -> Column:
        col = self._plan_cache.get(expr)
        if col is None:
            root = TC(F.col(self.doc_col), self.schema, doc=True)
            env = Env(root=root)  # no py_eval: per-row docs can't take
            # schema-changing patch guards (each row would need its own
            # schema) — those raise at compile time
            col = Compiler().compile(parse(expr), env).col
            self._plan_cache[expr] = col
        return col

    def frame(self, expr: str) -> DataFrame:
        """One row per document, single column ``value``."""
        return self.df.select(self._compile(expr).alias("value"))

    def with_result(self, expr: str, name: str = "value") -> DataFrame:
        """Original rows + the per-document result as a new column."""
        return self.df.withColumn(name, self._compile(expr))


class JetroTables:
    """Relational-mode engine over named tables (the 100 TB path).

    ``query(expr)`` returns a DataFrame; pipelines rooted at a table
    compile to native DataFrame ops (each stage documented inline with
    its reference semantics)."""

    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame],
                 scalars: dict | None = None,
                 ordered: dict[str, bool] | None = None):
        self.spark = spark
        self.tables = tables
        self.c = Compiler()
        self._scalars: dict = scalars or {}  # let-bound scalar TCs
        # per-table order trust (r10): True (default — a real source
        # table's scan order IS its document order) unless the binding
        # is a let-bound sub-plan whose terminal physical order is NOT
        # its doc order (keyed reducer with no order restore, multi-
        # generator comprehension join, set-comp dedup). Pipelines over
        # an untrusted table start with _scan_ok off, so order-hungry
        # stages take the warned fallback instead of silently numbering
        # shuffle-arbitrary rows with the scan surrogate.
        self._tables_ordered: dict[str, bool] = ordered or {}
        # pipeline sequence order: list of (Column, desc) sort keys set by
        # a .sort(...) stage and threaded through order-preserving stages
        # so positional analytics (lag/rolling/... §2.6) can window on it
        self._order: list | None = None
        # True once a set-op union stage emitted a plan Union: positional
        # sinks then avoid GlobalLimit above it (Spark 4.1 AQE drop —
        # see _ordered_prefix / SCALE.md)
        self._has_union: bool = False
        # True while the current pipeline's PHYSICAL row order still is
        # its document order (root scan + order-preserving stages) — the
        # precondition for the scan-order surrogate _maybe_scan_order
        # hands to order-dependent stages on unsorted pipelines
        self._scan_ok: bool = True
        # True when the pipeline's element is a bare scalar (after
        # `map(v)`), False for object rows — a single-column DataFrame is
        # ambiguous (`map({v: v})` also has one column), so the engine
        # tracks which projection produced it for the doc fallback
        self._scalar: bool = False

    # row-scope env: bare idents resolve to F.col via TC(row=True);
    # let-bound scalars shadow nothing (row fields win — locals are
    # consulted by the compiler before row scope, so seed them last)
    def _row_env(self, df: DataFrame) -> Env:
        return Env(root=None, current=TC(None, df.schema, row=True),
                   locals=dict(self._scalars))

    def _row_tc(self, df: DataFrame) -> TC:
        return TC(None, df.schema, row=True)

    def query(self, expr: str) -> DataFrame:
        node = parse(expr)
        try:
            return self.compile_node(node)
        except AnalysisException as exc:
            # same totality contract as document mode (_analyzed_select):
            # an ill-typed stage combination (e.g. summing an
            # array-valued pipeline) surfaces as the language's own
            # error, not a raw engine exception
            raise CompileError(
                f"expression is ill-typed for these tables: "
                f"{exc.getMessage() if hasattr(exc, 'getMessage') else exc}"
            ) from exc

    def write_csv(self, expr: str, path: str, *, sep: str = ",",
                  header: bool = True, mode: str = "overwrite") -> None:
        """Distributed CSV sink for a table-rooted pipeline — the
        table-scale form of ``to_csv`` (§2.1): every partition writes
        its own part file, no driver-side string assembly."""
        (self.query(expr).write.mode(mode)
         .option("sep", sep).option("header", header).csv(path))

    def write_parquet(self, expr: str, path: str, *,
                      partition_by: list[str] | None = None,
                      cluster_by: list[str] | None = None,
                      target_files: int | None = None,
                      mode: str = "overwrite") -> None:
        """Distributed parquet sink with layout control — what a
        training-data pipeline actually ships:

        - ``partition_by``: hive-style directory partitioning; downstream
          filters on these columns become partition PRUNING (whole
          directories skipped, no footer reads).
        - ``cluster_by``: repartition on the keys then sort within each
          file — co-locates equal keys and gives parquet min/max
          row-group statistics real selectivity for range predicates.
        - ``target_files``: cap the output file count (tiny-file storms
          from a 32-partition shuffle writing 32 files per hive partition
          are the classic small-files problem; at cluster scale size this
          to ~<1 GB per file).
        """
        self._write_layout(expr, path, "parquet", partition_by,
                           cluster_by, target_files, mode)

    def write_orc(self, expr: str, path: str, *,
                  partition_by: list[str] | None = None,
                  cluster_by: list[str] | None = None,
                  target_files: int | None = None,
                  mode: str = "overwrite") -> None:
        """Distributed ORC sink — same layout controls as
        ``write_parquet`` (ORC is Spark-native: predicate pushdown,
        column pruning, and partition pruning all apply; pick it for
        Hive-ecosystem consumers)."""
        self._write_layout(expr, path, "orc", partition_by,
                           cluster_by, target_files, mode)

    def _write_layout(self, expr, path, fmt, partition_by,
                      cluster_by, target_files, mode) -> None:
        df = self.query(expr)
        if cluster_by:
            if target_files:
                n = target_files
            else:
                try:
                    n = df.sparkSession.sparkContext.defaultParallelism
                except Exception:  # Spark Connect: no sparkContext —
                    n = int(df.sparkSession.conf.get(  # shuffle width is
                        "spark.sql.shuffle.partitions"))  # the same knob
            df = (df.repartition(n, *[F.col(c) for c in cluster_by])
                  .sortWithinPartitions(*cluster_by))
        elif target_files:
            df = df.repartition(target_files)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format(fmt).save(path)

    def _comp_ordered(self, n: A.Comp) -> bool:
        """Is a comprehension output's physical order its document
        order? Single-generator list/gen comps are narrow
        filter+project over the generator table (scan order carries —
        when the TABLE's own order is trusted); multi-generator JOINS
        emit nested-loop doc order no shuffle reproduces, and set-comp
        dedup reorders — untrusted (r10)."""
        gens = n.gens or [(n.vars, n.source)]
        if len(gens) != 1 or n.kind not in ("list", "gen"):
            return False
        t0 = self._table_of(gens[0][1])
        return t0 is not None and self._tables_ordered.get(t0, True)

    def _comp_trusted(self, n: A.Comp) -> bool:
        """Are ALL table generator sources order-trusted? Gates every
        doc-order claim a comprehension makes: the single-gen scan
        carry, _comp_multi's per-generator monotonic-id tags, and
        _set_body's first-occurrence tag each presume the source
        table's PHYSICAL order is its doc order (r11 advice: an
        order-untrusted let binding as the source silently certified
        shuffle-arbitrary rows as positional truth). Untrusted →
        comps compile order-free and downstream positional stages
        take the warned doc fallback, the same contract as a bare
        pipeline over an untrusted binding."""
        gens = n.gens or [(n.vars, n.source)]
        for _, src in gens:
            t = self._table_of(src)
            if t is not None and not self._tables_ordered.get(t, True):
                return False
        return True

    def compile_node(self, node: A.Node,
                     demand_order: bool = False) -> DataFrame:
        if isinstance(node, A.Comp) and node.kind in ("list", "gen", "set"):
            df = self._comp(node, want_order=demand_order)
            if df is not None:
                # order trust requires BOTH a reason the output is in
                # doc order (demanded materialization, or the single-gen
                # scan carry) AND trusted generator sources — _comp
                # ignores the demand over untrusted sources (r11)
                self._pipe_end_ordered = (
                    (demand_order or self._comp_ordered(node))
                    and self._comp_trusted(node))
                return df
        # method chain on a comprehension root: `[...].first()` lowered
        # the comp, then errored "requires a table-rooted pipeline" —
        # a one-sided error vs doc mode (r10). Run the remaining steps
        # as a pipeline over the comp output; positional stages only
        # get the scan surrogate when the comp preserves order.
        if isinstance(node, A.Path) and isinstance(node.base, A.Comp) \
                and node.base.kind in ("list", "gen", "set"):
            want = demand_order or any(not _order_blind(s)
                                       for s in node.steps)
            df = self._comp(node.base, want_order=want)
            if df is not None:
                # _select_body just set self._scalar for the comp value
                return self._pipeline(
                    df, node.steps,
                    scan_ok=((want or self._comp_ordered(node.base))
                             and self._comp_trusted(node.base)),
                    scalar=self._scalar, demand_order=demand_order)
        if isinstance(node, A.Path) and isinstance(node.base, A.Root):
            if node.steps and isinstance(node.steps[0], A.Field) \
                    and node.steps[0].name in self.tables:
                nm = node.steps[0].name
                return self._pipeline(
                    self.tables[nm], node.steps[1:],
                    scan_ok=self._tables_ordered.get(nm, True),
                    demand_order=demand_order)
        # let-bound sub-plan referenced bare: `top.count()` / `top`
        if isinstance(node, A.Path) and isinstance(node.base, A.Ident) \
                and node.base.name in self.tables:
            nm = node.base.name
            return self._pipeline(
                self.tables[nm], node.steps,
                scan_ok=self._tables_ordered.get(nm, True),
                demand_order=demand_order)
        if isinstance(node, A.Ident) and node.name in self.tables:
            self._pipe_end_ordered = self._tables_ordered.get(node.name, True)
            return self.tables[node.name]
        if isinstance(node, A.Let):
            return self._let(node, demand_order)
        raise CompileError("relational mode requires a table-rooted pipeline "
                           f"($.<table>...); tables: {sorted(self.tables)}")

    # --------------------------------------------------- comprehensions

    def _let(self, n: A.Let, demand_order: bool = False) -> DataFrame:
        """Relational let: a table-rooted binding becomes a NAMED
        SUB-PLAN — the body sees it as another table (so
        `let top = $.orders.filter(p > x) in top.count()` is one plan,
        no materialization; Catalyst de-duplicates or reuses the
        subtree). A non-table binding must be row-free scalar — bound
        as a compile-time TC visible in every row scope.

        ``demand_order`` threads through to the BODY (r11 advice):
        a nested binding (`let a = (let k = 1 in $.s.group_by(g)) in
        a.first()`) compiles its inner pipeline through this path, and
        dropping the demand here let the keyed reducer skip its doc-
        order restore — the binding ended untrusted and the sink fell
        back (or silently diverged via the comp path) where the r10
        binding-exit demand should have materialized the order."""
        try:
            self._pipe_end_ordered = True
            # demand_order: a binding's consumer is unknown — compile
            # as if an order-reading stage followed, so keyed reducers
            # / joins materialize their doc order instead of skipping
            # the restore under the order-blind-tail optimization (r10:
            # `let a = $.s.sort(-v).group_by(g) in a.first()` silently
            # returned the physically-first group)
            bound = self.compile_node(n.value, demand_order=True)
        except CompileError:
            bound = None
        if bound is not None:
            # record whether the bound sub-plan's PHYSICAL order is its
            # doc order (set by _pipeline / the comp branches): body
            # pipelines over an untrusted binding must not mint the
            # scan-order surrogate (r10 — `let a = $.s.group_by(g) in
            # a.last()` silently returned a shuffle-arbitrary row)
            trust = getattr(self, "_pipe_end_ordered", True)
            child = JetroTables(self.spark, {**self.tables, n.name: bound},
                                scalars=self._scalars,
                                ordered={**self._tables_ordered,
                                         n.name: trust})
            out = child.compile_node(n.body, demand_order=demand_order)
            # the body compiled in the CHILD scope — surface its order
            # trust on self, read by an enclosing _let / join caller
            # (nested bindings, r11 advice)
            self._pipe_end_ordered = getattr(child, "_pipe_end_ordered",
                                             True)
            return out
        scalar = self.c.compile(n.value, Env(locals=dict(self._scalars)))
        child = JetroTables(self.spark, self.tables,
                            scalars={**self._scalars, n.name: scalar},
                            ordered=self._tables_ordered)
        out = child.compile_node(n.body, demand_order=demand_order)
        self._pipe_end_ordered = getattr(child, "_pipe_end_ordered", True)
        return out

    def _table_of(self, src: A.Node) -> str | None:
        if (isinstance(src, A.Path) and isinstance(src.base, A.Root)
                and src.steps and isinstance(src.steps[0], A.Field)
                and src.steps[0].name in self.tables and len(src.steps) == 1):
            return src.steps[0].name
        # let-bound sub-plan as generator source: `for x in a` (r10 —
        # was a one-sided 'requires a table-rooted pipeline' error)
        if isinstance(src, A.Ident) and src.name in self.tables:
            return src.name
        if (isinstance(src, A.Path) and isinstance(src.base, A.Ident)
                and not src.steps and src.base.name in self.tables):
            return src.base.name
        return None

    def _comp(self, n: A.Comp,
              want_order: bool = False) -> DataFrame | None:
        """[v for x in $.t if p] → t.filter(p).select(v) — one scan, no
        collect (comprehension AST ast.rs:69-114).

        Multi-generator (INDEPTH.md:260-279) lowers to real joins: each
        var becomes a struct column; a table source appends a crossJoin
        (Catalyst rewrites the `if` equality predicate into an inner
        equi-join — broadcast or shuffled hash, its choice); a source
        rooted at an earlier var (`for li in o.items`) becomes an
        explode. No driver-side product is ever built."""
        gens = n.gens or [(n.vars, n.source)]
        # an untrusted source's physical order is NOT its doc order —
        # never mint order tags over it; compile order-free and let the
        # caller's scan_ok=False route positional reads to the warned
        # doc fallback (r11 advice)
        want_order = want_order and self._comp_trusted(n)
        if len(gens) > 1:
            return self._comp_multi(n, gens, want_order)
        src = n.source
        tname = self._table_of(src)
        if tname is None:
            return None
        df = self.tables[tname]
        var = n.vars[0]
        env = self._row_env(df).bind(var, self._row_tc(df))
        if n.cond is not None:
            df = df.filter(self.c.compile_cond(n.cond, env))
            env = self._row_env(df).bind(var, self._row_tc(df))
        if n.kind == "set":
            return self._set_body(df, n.value, env, want_order)
        return self._select_body(df, n.value, env)

    def _set_body(self, df: DataFrame, value: A.Node, env: Env,
                  want_order: bool) -> DataFrame:
        """Set-comprehension projection: doc sets are insertion-ordered
        (IndexSet) — with ``want_order`` the dedup keeps each value's
        FIRST occurrence position and sorts by it (precondition: df's
        physical order is the comp's doc order — the single-gen scan,
        or _comp_multi's post-sort); otherwise a plain distinct (the
        multiset contract owes no order on a final result)."""
        if not want_order:
            return self._select_body(df, value, env).distinct()
        d2 = df.withColumn("__ord_cm", F.monotonically_increasing_id())
        tc = self.c.compile(value, env)
        if isinstance(tc.dtype, T.StructType):
            self._scalar = False
            proj = d2.select(tc.col.alias("__s"), "__ord_cm") \
                     .select("__s.*", "__ord_cm")
        else:
            self._scalar = True
            proj = d2.select(tc.col.alias(self._scalar_name(value)),
                             "__ord_cm")
        cols = [c2 for c2 in proj.columns if c2 != "__ord_cm"]
        return (proj.groupBy(*cols)
                .agg(F.min("__ord_cm").alias("__ord_cm"))
                .orderBy("__ord_cm").drop("__ord_cm"))

    def _comp_multi(self, n: A.Comp,
                    gens: list[tuple[list[str], A.Node]],
                    want_order: bool = False) -> DataFrame | None:
        t0 = self._table_of(gens[0][1])
        if t0 is None or any(len(vs) != 1 for vs, _ in gens):
            return None
        first = self.tables[t0]
        df = first.select(F.struct(*first.columns).alias(gens[0][0][0]))
        ords: list[str] = []
        if want_order:
            # nested-loop DOC order is reproducible: tag every
            # generator side with its own scan position before the
            # join/explode, sort by (outer, inner, ...) after (r10 —
            # a positional stage over a multi-gen comp was
            # shuffle-arbitrary)
            df = df.withColumn("__ord_cg0", F.monotonically_increasing_id())
            ords.append("__ord_cg0")
        for gi, (vars_, src) in enumerate(gens[1:], 1):
            v = vars_[0]
            tname = self._table_of(src)
            if tname is not None:
                t = self.tables[tname]
                sel = t.select(F.struct(*t.columns).alias(v))
                if want_order:
                    sel = sel.withColumn(f"__ord_cg{gi}",
                                         F.monotonically_increasing_id())
                    ords.append(f"__ord_cg{gi}")
                df = df.crossJoin(sel)
                continue
            # source rooted at an earlier var → array column → explode
            # (empty/null arrays contribute no rows: cartesian semantics)
            tc = self.c.compile(src, self._row_env(df))
            if not isinstance(tc.dtype, T.ArrayType):
                raise CompileError(
                    "comprehension source must be a table or an array "
                    "reachable from an earlier generator variable")
            if want_order:
                df = df.select("*", F.posexplode(tc.col)
                               .alias(f"__ord_cg{gi}", v))
                ords.append(f"__ord_cg{gi}")
            else:
                df = df.withColumn(v, F.explode(tc.col))
        env = self._row_env(df)
        if n.cond is not None:
            df = df.filter(self.c.compile_cond(n.cond, env))
            env = self._row_env(df)
        if want_order:
            df = df.orderBy(*[F.col(o).asc() for o in ords])
        if n.kind == "set":
            return self._set_body(df, n.value, env, want_order)
        return self._select_body(df, n.value, env)

    def _select_body(self, df: DataFrame, body: A.Node, env: Env) -> DataFrame:
        tc = self.c.compile(body, env)
        if isinstance(tc.dtype, T.StructType):
            # object-shaped map → one column per field (CollapseProject
            # folds the star-expansion into a single Project)
            self._scalar = False
            return df.select(tc.col.alias("__s")).select("__s.*")
        self._scalar = True
        return df.select(tc.col.alias(self._scalar_name(body)))

    @staticmethod
    def _scalar_name(body: A.Node) -> str:
        """map(customer.address.city) keeps the leaf name, like jetro keeps
        the projected value bare; computed expressions become `value`."""
        if isinstance(body, A.Ident):
            return body.name
        if isinstance(body, A.Path):
            last = [s for s in body.steps if isinstance(s, A.Field)]
            if last:
                return last[-1].name
        return "value"

    # -------------------------------------------------------- pipeline

    def _pipeline(self, df: DataFrame, steps: list[A.Node],
                  scan_ok: bool = True, scalar: bool = False,
                  demand_order: bool = False) -> DataFrame:
        """``demand_order`` (r10): compile as if an order-reading stage
        followed the last step — a LET BINDING's consumer is unknown at
        binding time, so order-restoring stages (keyed reducers, joins,
        ordered union) must materialize their doc order instead of
        skipping the restore under the order-blind-tail optimization."""
        saved, self._order = self._order, None
        saved_sc, self._scalar = self._scalar, scalar
        saved_scan, self._scan_ok = self._scan_ok, scan_ok
        saved_last = getattr(self, "_tail_reads_order", True)
        saved_tail = getattr(self, "_has_tail", False)
        try:
            i = 0
            while i < len(steps):
                step = steps[i]
                pre_order = self._order
                # order-demand lookahead: the relational contract owes
                # no order on the FINAL result (multiset compare), so an
                # order-preserving join only pays its receiver-order
                # sort when some REMAINING stage actually reads order
                # (positional, window, tie-sensitive, or unknown)
                self._tail_reads_order = demand_order or any(
                    not _order_blind(s) for s in steps[i + 1:])
                self._has_tail = demand_order or i + 1 < len(steps)
                out = self._stage(df, step)
                if out is None:
                    # single-task fallback emits results in document
                    # order → trustworthy as a table arg (see below)
                    self._pipe_end_ordered = True
                    return self._doc_fallback(df, steps[i:], pre_order)
                if self._order is None and not _keeps_scan_order(step):
                    # a reordering stage ran with no carried order: the
                    # physical order is now shuffle-arbitrary, so the
                    # scan-order surrogate is off the table downstream
                    self._scan_ok = False
                df = out
                i += 1
            # terminal order trust, read by a CALLER that consumed this
            # pipeline as a table arg (equi_join's right side needs the
            # right-ARRAY order, r10 advice): physical row order is the
            # document order iff an order is carried (carried ⇒
            # physically materialized, the doc_ord invariant) or the
            # scan-order surrogate is still valid
            self._pipe_end_ordered = (self._order is not None
                                      or self._scan_ok)
        finally:
            self._order = saved
            self._scalar = saved_sc
            self._scan_ok = saved_scan
            self._tail_reads_order = saved_last
            self._has_tail = saved_tail
        hidden = [c for c in df.columns if c.startswith("__ord")]
        return df.drop(*hidden) if hidden else df

    def _stage(self, df: DataFrame, step: A.Node) -> DataFrame | None:
        env = self._row_env(df)
        order, self._order = self._order, None  # stages opt back in
        if isinstance(step, A.InlineFilter):
            self._order = order
            return df.filter(self.c.compile_cond(step.pred, env))
        if isinstance(step, A.MapShape):
            if step.pred is not None:
                df = df.filter(self.c.compile_cond(step.pred, env))
                env = self._row_env(df)
            return self._select_carry(df, step.shape, env, order)
        if isinstance(step, A.Index):
            v = step.expr
            try:
                i = _lit_int(v)
            except CompileError:
                return None
            if i >= 0:
                if order is None and not self._scan_ok:
                    return None
                self._order = order
                # OOB index is Null in the reference (value.rs
                # get_index) — pad like nth (r10 let-soak catch: the
                # `[i]` sink was the one positional stage the r7
                # null-padding pass missed)
                if getattr(self, "_has_union", False):
                    df, o2 = self._maybe_scan_order(df, order)
                    return self._pad_single_null(
                        self._ordered_prefix(df, o2, 1, offset=i))
                return self._pad_single_null(df.offset(i).limit(1))
            # [-n]: inverted-sort offset, like nth (scan-order surrogate
            # when unsorted, r8)
            df, order = self._maybe_scan_order(df, order)
            if order is not None:
                self._order = order
                if getattr(self, "_has_union", False):
                    inv_ord = [(c2, not d) for c2, d in order]
                    return self._pad_single_null(
                        self._ordered_prefix(df, inv_ord, 1,
                                             offset=-i - 1))
                inv = df.orderBy(*[c2.asc() if d else c2.desc()
                                   for c2, d in order])
                return self._pad_single_null(inv.offset(-i - 1).limit(1))
            return None
        if isinstance(step, A.Slice):
            if order is None and not self._scan_ok:
                return None
            self._order = order
            a = step.start or 0
            if a >= 0 and step.stop is not None and step.stop >= a:
                if getattr(self, "_has_union", False):
                    df, o2 = self._maybe_scan_order(df, order)
                    return self._ordered_prefix(df, o2, step.stop - a,
                                                offset=a)
                return df.offset(a).limit(step.stop - a)
            if a >= 0 and step.stop is None:
                if getattr(self, "_has_union", False):
                    df, o2 = self._maybe_scan_order(df, order)
                    return self._ordered_prefix(df, o2, None, offset=a)
                return df.offset(a)
            self._order = None
            return None
        if isinstance(step, A.Quantifier):
            self._order = order
            return df  # `?` null-safe is free; `!` asserted at action time
        if not isinstance(step, A.Method):
            return None
        return self._method_stage(df, step, env, order)

    def _maybe_scan_order(self, df: DataFrame, order: list | None):
        """Hand an order-dependent stage the SCAN-ORDER surrogate when
        no order is carried but the physical row order still is the
        document order (r8): a partition-prefixed monotonic id sorts to
        exactly the sequence the doc fallback would have collected in —
        so `$.t.take_while(...)`, `.reverse()`, `.pairwise()` etc. on an
        unsorted table lower instead of collapsing to one task. Unique
        hidden name per use (Column refs resolve by name)."""
        if order is not None or not self._scan_ok:
            return df, order
        self._sort_seq = getattr(self, "_sort_seq", 0) + 1
        sid = f"__ord_sc{self._sort_seq}"
        return (df.withColumn(sid, F.monotonically_increasing_id()),
                [(F.col(sid), False)])

    def _ordered_prefix(self, df: DataFrame, order: list,
                        n: int | None, offset: int = 0) -> DataFrame:
        """``offset``/``limit`` as a row_number window filter — NO
        GlobalLimit node. Used for positional sinks when the pipeline
        contains a Union (``self._has_union``): Spark 4.1's AQE
        re-optimization can DROP a Sort+GlobalLimit directly above a
        Union after one branch materializes empty (the r12 soak catch;
        minimal engine repro pinned in
        test_regressions.test_minby_padding_aqe_union_limit, upstream
        exposure documented in SCALE.md). The window's single-partition
        sort costs more than TakeOrdered's top-n heap, so it is gated
        to union-carrying pipelines only — everywhere else the plain
        limit (and its whole-stage-codegen TakeOrderedAndProject) is
        kept."""
        from pyspark.sql.window import Window
        w = Window.orderBy(*_order_by(order))
        self._sort_seq = getattr(self, "_sort_seq", 0) + 1
        rn = f"__pfx{self._sort_seq}"
        keep = (F.col(rn) > offset) if n is None else (
            (F.col(rn) > offset) & (F.col(rn) <= offset + n))
        return (df.withColumn(rn, F.row_number().over(w))
                .filter(keep).drop(rn))

    def _rematerialize_order(self, df: DataFrame, order: list,
                             cols: list[Column] | None = None):
        """Project ``cols`` (default: the visible columns) and the order
        keys, as the hidden ``__ord{i}`` slots, in ONE projection of
        ``df``; return ``(df, slot_order)``. Every key reads the INPUT
        df, so a key may reference an existing hidden column by name
        (stable sort's scan-order id, a prior sort's carry): the
        sequential withColumn loop this once was overwrote ``__ord0``
        before a later key read it (r8 fuzz catch)."""
        if cols is None:
            cols = [F.col("`%s`" % c.replace("`", "``"))
                    for c in _vis_cols(df)]
        keys = [col.alias(f"__ord{i}") for i, (col, _d) in enumerate(order)]
        return (df.select(*cols, *keys),
                [(F.col(f"__ord{i}"), d) for i, (_c, d) in enumerate(order)])

    def _select_carry(self, df: DataFrame, body: A.Node, env: Env,
                      order: list | None) -> DataFrame:
        """_select_body, but when a sort order is live the sort keys ride
        along as hidden ``__ord{i}`` columns (stripped at pipeline end) so
        a later window builtin can still order by them after the
        projection dropped the original key columns. Body fields and
        keys come from ONE projection of the input frame: every chained
        select/drop/rename is an eager JVM analysis."""
        if not order:
            return self._select_body(df, body, env)
        # the CALLER's env: rebuilding it dropped any lambda-param binding
        # (`map(x => ...)` under a live sort compiled x.* to the
        # missing-field null — r8 fuzz catch)
        tc = self.c.compile(body, env)
        if isinstance(tc.dtype, T.StructType):
            self._scalar = False
            cols = [tc.col.getField(f.name).alias(f.name)
                    for f in tc.dtype.fields]
        else:
            self._scalar = True
            cols = [tc.col.alias(self._scalar_name(body))]
        out, self._order = self._rematerialize_order(df, order, cols)
        return out

    def _method_stage(self, df: DataFrame, step: A.Method, env: Env,
                      order: list | None = None) -> DataFrame | None:
        name, args = step.name, step.args
        c = self.c
        if name in _ORDER_HUNGRY:
            df, order = self._maybe_scan_order(df, order)

        def elem_tc() -> TC:
            # what a lambda param binds to: the row struct for object
            # pipelines, the BARE column for scalar ones (after map(v),
            # `x => x * 2` sees the element, same as doc mode). The row
            # case materializes F.struct so VALUE uses of the whole param
            # (`x => x > 40`) reach Spark's analyzer and fail controlled,
            # exactly like doc mode; field access still compiles to
            # top-level F.col via the row=True branch (pushdown-friendly)
            vis2 = _vis_cols(df)
            if self._scalar and len(vis2) == 1:
                return TC(F.col(vis2[0]), df.schema[vis2[0]].dataType)
            return TC(F.struct(*[F.col(c2) for c2 in vis2]),
                      T.StructType([f for f in df.schema.fields
                                    if f.name in vis2]), row=True)

        def pred(node):
            # condition context: bare comparisons push down to parquet
            # and keep join keys extractable (see Compiler.compile_cond).
            # `x => x.v > 6` binds its param to the element, like doc mode.
            if isinstance(node, A.Lambda):
                env2 = env.bind(node.params[0], elem_tc())
                return c.compile_cond(node.body, env2)
            return c.compile_cond(node, env)

        def key_col(node):
            n2, desc = node, False
            if isinstance(n2, A.Neg):
                # direct `sort(-key)` is the documented DESCENDING
                # syntax (purely syntactic — works on any key type)
                n2, desc = n2.expr, True
            if isinstance(n2, A.Lambda):
                # a LAMBDA body is an expression evaluated per element:
                # `x => -x.v` really negates (r9 soak catch — stripping
                # the Neg silently desc-sorted non-numeric keys that
                # doc mode type-errors on, e.g. an imploded array).
                # For numeric keys, asc-by-negated ≡ desc, so nothing
                # changes where it was valid.
                env2 = env.bind(n2.params[0], elem_tc())
                return c.compile(n2.body, env2).col, desc
            col = c.compile(n2, env).col
            return col, desc

        def key_str_col(node):
            """Keyed-reducer key → the reference's canonical key STRING
            (val_to_key): integral doubles render without the trailing
            .0 — matches the doc-mode _key_lam wrapping."""
            from jetro_spark.jql.compiler import _canon_str
            n2 = node.expr if isinstance(node, A.Neg) else node
            if isinstance(n2, A.Lambda):
                env2 = env.bind(n2.params[0], elem_tc())
                tc2 = c.compile(n2.body, env2)
            else:
                tc2 = c.compile(n2, env)
            return F.coalesce(_canon_str(tc2.col, tc2.dtype),
                              F.lit("null"))

        if name in ("filter", "find", "find_all"):
            self._order = order
            return df.filter(pred(args[0].value))
        if name == "map":
            body = args[0].value
            if isinstance(body, A.Lambda):
                env2 = env.bind(body.params[0], elem_tc())
                return self._select_carry(df, body.body, env2, order)
            return self._select_carry(df, body, env, order)
        if name in ("sort", "sort_by"):
            if not args:
                keys = [(F.col(x), False) for x in df.columns
                        if not x.startswith("__ord")]
            elif (len(args) == 1 and isinstance(args[0].value, A.Lambda)
                  and len(args[0].value.params) == 2):
                # comparator form: the two canonical `(a, b) => a < b`
                # shapes lower to a natural sort over the element
                # (struct ordering = field-order lexicographic, same as
                # doc mode's whole-element compare); see _sort_args
                lam = args[0].value
                body = lam.body
                if not (isinstance(body, A.Binary)
                        and body.op in ("<", "<=", ">", ">=")
                        and isinstance(body.left, A.Ident)
                        and isinstance(body.right, A.Ident)
                        and {body.left.name, body.right.name}
                        == set(lam.params)):
                    raise CompileError(
                        "comparator sort supports only `(a, b) => a < b` "
                        "shapes; use sort(key) / sort(-key) for key-based "
                        "ordering")
                asc_ops = ("<", "<=") if body.left.name == lam.params[0]                     else (">", ">=")
                keys = [(elem_tc().col, body.op not in asc_ops)]
            else:
                keys = [key_col(a.value) for a in args]
            # null keys sort FIRST both directions (doc-mode convention;
            # the reference's null-equal comparator is non-transitive
            # and unimplementable as a distributed total order) — as an
            # explicit flag entry so reverse/inversion stay mechanical
            keys = _null_first_keys(keys)
            # stable sort (doc mode = Rust Vec::sort_by, r8 fuzz catch:
            # mass ties from a patch stage made instability observable):
            # ties keep their prior pipeline order — append the carried
            # order as secondary keys; with no carried order yet the
            # document order IS the scan order, captured as a
            # partition-prefixed monotonic id (unique name per stage —
            # a later sort must not clobber a column an earlier order
            # list still references by name).
            if order:
                keys = keys + list(order)
            else:
                # the tie-break surrogate is only valid while physical
                # row order still IS the document order — after an
                # order-destroying stage (equi_join, keyed group) a
                # monotonic id numbers shuffle-arbitrary rows and ties
                # diverge from doc mode's deterministic pipeline order
                # (r9 advice catch) → warned doc fallback instead
                df, scan = self._maybe_scan_order(df, None)
                if scan is None:
                    return None
                keys = keys + list(scan)
            self._order = keys
            return df.orderBy(*[c.desc() if d else c.asc() for c, d in keys])
        if name == "take":
            if order is None and not self._scan_ok:
                return None   # physical prefix != doc prefix (r10)
            self._order = order
            if getattr(self, "_has_union", False):
                # a Union is in the subtree: no GlobalLimit above it
                # (the Spark 4.1 AQE drop — see _ordered_prefix)
                df, o2 = self._maybe_scan_order(df, order)
                return self._ordered_prefix(df, o2,
                                            _lit_int(args[0].value))
            return df.limit(_lit_int(args[0].value))
        if name in ("skip", "drop"):
            if order is None and not self._scan_ok:
                return None
            self._order = order
            if getattr(self, "_has_union", False):
                df, o2 = self._maybe_scan_order(df, order)
                return self._ordered_prefix(
                    df, o2, None, offset=_lit_int(args[0].value))
            return df.offset(_lit_int(args[0].value))
        if name == "first":
            # the physical-prefix limit is only doc-faithful while the
            # physical row order IS the document order — an untrusted
            # table binding (multi-generator comp) starts with
            # _scan_ok off and must take the warned fallback (r10)
            if order is None and not self._scan_ok:
                return None
            self._order = order
            if getattr(self, "_has_union", False):
                df, o2 = self._maybe_scan_order(df, order)
                k = 1 if not args else _lit_int(args[0].value)
                head = self._ordered_prefix(df, o2, k)
                if not args or k == 1:
                    return self._pad_single_null(head)
                return head
            if not args or _lit_int(args[0].value) == 1:
                # scalar form (collection.rs first_apply: n==1 unwraps to
                # a scalar, Null when empty) → pad the empty case
                return self._pad_single_null(df.limit(1))
            return df.limit(_lit_int(args[0].value))
        if name in _WINDOW_STAGES:
            return self._window_stage(df, name, args, order)
        if name == "last":
            # reverse-sort + limit (logical stage Last, jc/ir/logical.rs:
            # 16-57): needs the pipeline's order; unordered → doc fallback
            if order is None or (args and _lit_int(args[0].value) < 0):
                return None
            self._order = order
            k = 1 if not args else _lit_int(args[0].value)
            if getattr(self, "_has_union", False):
                # tail via an inverted-order window filter — the plain
                # lowering is EXACTLY the Sort+GlobalLimit-above-Union
                # shape Spark 4.1's AQE can drop (see _ordered_prefix)
                inv_ord = [(c2, not d) for c2, d in order]
                tail = self._ordered_prefix(df, inv_ord, k)
                if not args or k == 1:
                    return self._pad_single_null(tail)
                return tail.orderBy(*_order_by(order))
            inv = df.orderBy(*[c2.asc() if d else c2.desc() for c2, d in order])
            if not args or k == 1:
                # scalar form (last_apply n==1): Null when empty
                return self._pad_single_null(inv.limit(1))
            # last(n>=2) keeps the ORIGINAL pipeline order (doc mode
            # slices the tail; the inverted limit alone emitted the
            # rows reversed — r11 probe catch): re-sort the n survivors
            return (inv.limit(k).orderBy(*_order_by(order)))
        if name == "nth":
            # OOB nth is Null in the reference (value.rs get_index), not
            # an absent value → pad the empty row set with one null row
            i = _lit_int(args[0].value)
            if i >= 0:
                if order is None and not self._scan_ok:
                    return None
                self._order = order
                if getattr(self, "_has_union", False):
                    df, o2 = self._maybe_scan_order(df, order)
                    return self._pad_single_null(
                        self._ordered_prefix(df, o2, 1, offset=i))
                return self._pad_single_null(df.offset(i).limit(1))
            if order is None:
                return None
            self._order = order
            if getattr(self, "_has_union", False):
                inv_ord = [(c2, not d) for c2, d in order]
                return self._pad_single_null(
                    self._ordered_prefix(df, inv_ord, 1, offset=-i - 1))
            inv = df.orderBy(*[c2.asc() if d else c2.desc() for c2, d in order])
            return self._pad_single_null(inv.offset(-i - 1).limit(1))
        if name == "enumerate":
            # → rows of {index, value} over the pipeline order
            # (ops/collection.rs:409). Dense global indexing is an
            # inherently single-sequence operation (same class as
            # take_while's running sum); unordered tables fall back.
            if order is None:
                return None
            from pyspark.sql.window import Window
            w = Window.orderBy(*_order_by(order))
            vis = _vis_cols(df)
            hid = [F.col(c2) for c2 in df.columns if c2.startswith("__ord")]
            # scalar pipelines keep the bare element as `value` (doc-mode
            # semantics: value IS the element); only object rows wrap
            val = (F.col(vis[0]) if len(vis) == 1
                   else F.struct(*[F.col(c2) for c2 in vis]))
            out = df.select(
                (F.row_number().over(w) - 1).cast("long").alias("index"),
                val.alias("value"),
                *hid)
            self._order = [(F.col("index"), False)]
            return out
        if name == "accumulate":
            # Running-SUM pattern — `(a, x) => a + <expr(x)>` (either
            # operand order, optional scalar init) — lowers to a window
            # prefix sum; the general fold (multiplication, conditionals)
            # has no closed window form and keeps the doc fallback.
            lowered = self._accumulate_window(df, args, env, order)
            if lowered is not None:
                return lowered
            return None
        if name == "chunk":
            # groups of n consecutive rows → one row per chunk holding
            # the group as an array (ops/collection.rs chunk). The
            # per-chunk collect_list is bounded by the user's n — unlike
            # group_collect there is no unbounded-group OOM surface.
            if order is None or not args:
                return None
            self._scalar = True
            n = _lit_int(args[0].value)
            if n <= 0:
                raise CompileError("chunk size must be positive")
            from pyspark.sql.window import Window
            w = Window.orderBy(*_order_by(order))
            vis = _vis_cols(df)
            elem = (F.col(vis[0]) if len(vis) == 1
                    else F.struct(*[F.col(c2) for c2 in vis]))
            elem_pdt = (df.schema[vis[0]].dataType if len(vis) == 1
                        else T.StructType([df.schema[c2] for c2 in vis]))
            rn = F.row_number().over(w) - 1
            d2 = df.select((F.floor(rn / F.lit(n))).alias("__chunk"),
                           rn.alias("__rn"), elem.alias("__e"))
            out = (d2.groupBy(F.col("__chunk").alias("__ord0"))
                   .agg(F.transform(
                       R.sort_by_field(
                           F.collect_list(F.struct("__rn", "__e")), "__rn",
                           payload_dt=elem_pdt),
                       lambda s: s["__e"]).alias("value"))
                   .select("value", "__ord0")
                   .orderBy("__ord0"))
            self._order = [(F.col("__ord0"), False)]  # chunk sequence order
            return out
        if name == "pairwise":
            # overlapping [prev, cur] pairs over the pipeline order
            # (ops/collection.rs:556): lag window, first row dropped.
            # Order keys ride along as __ord columns (the _select_carry
            # convention) since the projection replaces the data columns.
            if order is None:
                return None
            self._scalar = True
            from pyspark.sql.window import Window
            df, order = self._rematerialize_order(df, order)
            w = Window.orderBy(*_order_by(order))
            vis = _vis_cols(df)
            extras = [F.col(f"__ord{i}") for i in range(len(order))]
            cur = (F.col(vis[0]) if len(vis) == 1
                   else F.struct(*[F.col(c2) for c2 in vis]))
            out = (df.select(F.lag(cur).over(w).alias("__prev"),
                             cur.alias("__cur"), *extras)
                   .filter(F.col("__prev").isNotNull())
                   .select(F.array("__prev", "__cur").alias("value"), *extras))
            self._order = [(F.col(f"__ord{i}"), d)
                           for i, (_, d) in enumerate(order)]
            return out
        if name == "reverse":
            if order is None:
                return None
            flipped = [(c2, not d) for c2, d in order]
            self._order = flipped
            return df.orderBy(*[c2.desc() if d else c2.asc()
                                for c2, d in flipped])
        if name in ("take_while", "drop_while", "takewhile", "dropwhile"):
            # longest truthy prefix over the pipeline order: cumulative
            # failure count (window min over !pred per the logical stages
            # TakeWhile/DropWhile, jc/ir/logical.rs:16-57). The
            # un-partitioned running sum is single-sequence by semantics.
            if order is None:
                return None
            from pyspark.sql.window import Window
            w = (Window.orderBy(*_order_by(order))
                 .rowsBetween(Window.unboundedPreceding, 0))
            node = args[0].value
            if isinstance(node, A.Lambda):
                env2 = env.bind(node.params[0], elem_tc())
                ok = c.compile_cond(node.body, env2)
            else:
                ok = pred(node)
            fail = F.when(F.coalesce(ok, F.lit(False)), F.lit(0)).otherwise(F.lit(1))
            cum = F.sum(fail).over(w)
            keep = cum == 0 if name.replace("_", "").startswith("take") else cum >= 1
            self._order = order
            return (df.withColumn("__tw", keep)
                    .filter(F.col("__tw")).drop("__tw"))
        if name == "flat_map":
            body = args[0].value
            if isinstance(body, A.Lambda):
                env2 = env.bind(body.params[0], elem_tc())
                tc = c.compile(body.body, env2)
                body = body.body
            else:
                tc = c.compile(body, env)
            if not isinstance(tc.dtype, T.ArrayType):
                raise CompileError("flat_map body must produce an array")
            el = tc.dtype.elementType
            out = df.select(F.explode(tc.col).alias("__e"))
            if isinstance(el, T.StructType):
                self._scalar = False
                return out.select("__e.*")
            self._scalar = True
            return out.select(F.col("__e").alias(self._scalar_name(body)))
        if name in ("unique", "distinct"):
            vis0 = _vis_cols(df)
            if self._scalar and len(vis0) == 1 and isinstance(
                    df.schema[vis0[0]].dataType,
                    (T.StringType, T.NullType, T.VariantType)):
                # scalar STRING rows key via val_to_key, where a NULL
                # cell renders "null" and merges with the literal
                # string "null" — the first occurrence (null-ness
                # intact) wins (unique_arr_apply, collection.rs:77-86;
                # r13, same collision class as the set ops; variant
                # cells have no native equality at all). Key-based
                # first-seen dedup, the unique_by lowering.
                from jetro_spark.jql.compiler import _canon_str
                canon = F.coalesce(
                    _canon_str(F.col(vis0[0]),
                               df.schema[vis0[0]].dataType),
                    F.lit("null"))
                if order is None:
                    out = R.unique_by(df, canon)
                else:
                    from pyspark.sql.window import Window
                    w = (Window.partitionBy(canon)
                         .orderBy(*_order_by(order)))
                    out = (df.withColumn("__uq_rn",
                                         F.row_number().over(w))
                           .filter(F.col("__uq_rn") == 1).drop("__uq_rn")
                           .orderBy(*_order_by(order)))
                self._order = order
                return out
            out = self._first_seen_dedup(df, order)
            # the dedup restored the pipeline order physically — keep it
            # carried so downstream position stages stay faithful (with
            # the r8 surrogate this also fixes `$.t.unique().first()` on
            # unsorted tables: distinct()'s shuffle order is arbitrary,
            # first-seen order is not)
            self._order = order
            return out
        if name == "unique_by":
            from jetro_spark.jql.compiler import _canon_str, _family
            n2 = args[0].value
            n2 = n2.expr if isinstance(n2, A.Neg) else n2
            if isinstance(n2, A.Lambda):
                env2 = env.bind(n2.params[0], elem_tc())
                ktc = c.compile(n2.body, env2)
            else:
                ktc = c.compile(n2, env)
            col = ktc.col
            if _family(ktc.dtype) in ("string", "null", "variant"):
                # key values key via val_to_key: null renders "null"
                # and merges with the literal (array.rs:273-292, r13 —
                # matches the doc-mode m_unique_by wrapping)
                col = F.coalesce(_canon_str(ktc.col, ktc.dtype),
                                 F.lit("null"))
            out = R.unique_by(df, col)
            if order is None:
                return out
            # the min_by groupBy shuffles away the physical pipeline
            # order position sinks rely on — restore it (winner rows
            # keep their __ord columns); winner choice itself already
            # follows pipeline order via the doc-order surrogate
            self._order = order
            return out.orderBy(*_order_by(order))
        if name == "count":
            self._scalar = True
            if args:
                return df.agg(F.count_if(pred(args[0].value)).alias("value"))
            return df.agg(F.count(F.lit(1)).alias("value"))
        if name == "len":
            self._scalar = True
            return df.agg(F.count(F.lit(1)).alias("value"))
        if name in ("sum", "avg", "min", "max"):
            from jetro_spark.jql.compiler import _skips_numeric_fold
            was_scalar = self._scalar
            self._scalar = True
            if args:
                vt = c.compile(args[0].value, env)
                col, cdt = vt.col, vt.dtype
            else:
                vis = _vis_cols(df)
                if not was_scalar:
                    # no-arg reducer over OBJECT rows: the element is a
                    # document, which num_fold SKIPS — sum [] = 0.0,
                    # min/max/avg Null (r8 unsorted fuzz catch: the old
                    # code summed whatever column happened to be first)
                    base = F.first(F.lit(None).cast("double"))
                    agg = (F.coalesce(base, F.lit(0.0))
                           if name == "sum" else base)
                    return df.limit(0).agg(agg.alias("value"))
                col = F.col(vis[0])
                cdt = df.schema[vis[0]].dataType
            if _skips_numeric_fold(cdt):
                # the reference's numeric reducers observe NO element of
                # this type (num_fold skips non-Int/Float) → sum 0,
                # min/max/avg Null — never a cast error
                base = F.first(F.lit(None).cast("double"))
                agg = F.coalesce(base, F.lit(0.0)) if name == "sum" else base
                return df.limit(0).agg(agg.alias("value"))
            agg = {"sum": lambda x: F.coalesce(F.sum(x), F.lit(0.0)),
                   "avg": F.avg, "min": F.min, "max": F.max}[name](col)
            return df.agg(agg.alias("value"))
        if name in ("any", "exists"):
            self._scalar = True
            return df.agg(F.coalesce(F.bool_or(pred(args[0].value)),
                                     F.lit(False)).alias("value"))
        if name == "all":
            self._scalar = True
            return df.agg(F.coalesce(F.bool_and(pred(args[0].value)),
                                     F.lit(True)).alias("value"))
        if name == "approx_count_distinct":
            self._scalar = True
            col = c.compile(args[0].value, env).col if args else F.struct(*df.columns)
            return df.agg(F.approx_count_distinct(col).alias("value"))
        if name in ("min_by", "max_by"):
            # empty pipeline → scalar Null (extreme_by_apply), padded
            # as one all-null row like first/last/nth (r7 soak catch)
            col, _ = key_col(args[0].value)
            # strict-improvement fold semantics (array.rs:341-375):
            # null keys compare Equal (cmp_vals, util.rs:133) so they
            # never IMPROVE — nulls sort LAST here, winning only when
            # every key is null — but a null-keyed FIRST element can
            # never be beaten either: it wins outright (r11 probe
            # catch; the old asc()/desc() crowned null keys on the
            # nulls-first end). Ties keep the FIRST element in
            # pipeline order — the carried order (or scan surrogate)
            # is the secondary key.
            o = (col.asc_nulls_last() if name == "min_by"
                 else col.desc_nulls_last())
            if not order:
                # same _scan_ok gate as the _ORDER_HUNGRY stages: after
                # an order-destroying stage the monotonic-id surrogate
                # numbers shuffle-arbitrary rows, so a tie here would
                # diverge from doc mode's first-in-pipeline-order winner
                # (r9 advice catch) → warned doc fallback
                df, order = self._maybe_scan_order(df, None)
                if order is None:
                    return None
            sec = [c2.desc() if d2 else c2.asc() for c2, d2 in order]
            if getattr(self, "_has_union", False):
                # a Union upstream: the orderBy+limit(1) picks are the
                # Sort+GlobalLimit-above-Union shape Spark 4.1's AQE
                # can drop (see _ordered_prefix) — window-rank instead
                from pyspark.sql.window import Window

                def _pick1(*keys):
                    self._sort_seq = getattr(self, "_sort_seq", 0) + 1
                    rn = f"__pfx{self._sort_seq}"
                    return (df.withColumn(
                        rn, F.row_number().over(Window.orderBy(*keys)))
                        .filter(F.col(rn) == 1).drop(rn))

                extreme = _pick1(o, *sec)
                pick_first = lambda: _pick1(*sec)  # noqa: E731
            else:
                extreme = df.orderBy(o, *sec).limit(1)
                pick_first = lambda: df.orderBy(*sec).limit(1)  # noqa: E731
            # the first-element-null probe only exists for NULLABLE
            # keys (r12 advice): when the analyzer proves the key
            # expression non-null, the override can never fire — skip
            # the second TakeOrdered subplan and the union outright
            if not df.select(col.alias("__xb_k")).schema["__xb_k"].nullable:
                return self._pad_single_null(extreme)
            first_null = (pick_first()
                          .filter(col.isNull())
                          .withColumn("__xb_pri", F.lit(0)))
            # winner = min-priority branch row, chosen by an ungrouped
            # min_by AGGREGATE — not orderBy(pri).limit(1): AQE can
            # drop a Sort+Limit above a Union whose branch materializes
            # empty (the r12 soak catch; see _pad_single_null). The
            # aggregate also pads: empty union → one all-null row.
            unioned = first_null.unionByName(
                extreme.withColumn("__xb_pri", F.lit(1)))
            fields = [f.name for f in extreme.schema.fields]
            w = unioned.agg(F.min_by(
                F.struct(*[F.col(c2) for c2 in fields]),
                F.col("__xb_pri")).alias("__w"))
            return w.select(*[F.col("__w").getField(c2).alias(c2)
                              for c2 in fields])
        def doc_ord():
            """Fresh doc-order surrogate for ordered keyed collects.
            Valid because _maybe_scan_order already vetted this df
            (order carried ⇒ physically materialized; else scan-order
            surrogate minted) — physical row order IS pipeline order,
            and a partition-prefixed monotonic id captures it."""
            self._sort_seq = getattr(self, "_sort_seq", 0) + 1
            sid = f"__ord_go{self._sort_seq}"
            return df.withColumn(sid, F.monotonically_increasing_id()), sid

        if name == "group_by":
            if order is None:
                return None   # order-broken pipeline → warned fallback
            d2, go = doc_ord()
            # doc group_by keys an IndexMap: its KEY order (first-seen)
            # is doc-observable when navigation follows (.keys(),
            # field access, positional stages) — restore it like
            # implode's group order (r10 soak catch: .group_by(g)
            # .keys() collected groups in shuffle-arrival order)
            tail_reads = getattr(self, "_tail_reads_order", True)
            eo = f"__ord_gb{self._sort_seq}" if tail_reads else None
            out = R.group_collect(d2, key_str_col(args[0].value),
                                  order=go, payload_cols=_vis_cols(df),
                                  emit_order=eo)
            if eo is None:
                return out
            self._order = [(F.col(eo), False)]
            return out.orderBy(F.col(eo).asc())
        if name == "count_by":
            # first-seen key order is doc-observable downstream, same
            # as group_by (r10); count_by is not order-hungry, so mint
            # the scan surrogate only when a tail actually reads order
            tail_reads = getattr(self, "_tail_reads_order", True)
            if not tail_reads:
                return R.count_by(df, key_str_col(args[0].value))
            if order is None:
                df, order = self._maybe_scan_order(df, None)
                if order is None:
                    return None   # key order unrecoverable → fallback
            d2, go = doc_ord()
            eo = f"__ord_cb{self._sort_seq}"
            out = R.count_by(d2, key_str_col(args[0].value), order=go,
                             emit_order=eo)
            self._order = [(F.col(eo), False)]
            return out.orderBy(F.col(eo).asc())
        if name == "index_by":
            if order is None:
                return None
            d2, go = doc_ord()
            tail_reads = getattr(self, "_tail_reads_order", True)
            eo = f"__ord_ib{self._sort_seq}" if tail_reads else None
            out = R.index_by(d2, key_str_col(args[0].value), order=go,
                             payload_cols=_vis_cols(df), emit_order=eo)
            if eo is None:
                return out
            self._order = [(F.col(eo), False)]
            return out.orderBy(F.col(eo).asc())
        if name == "equi_join":
            # read the hint BEFORE resolving the table arg: a
            # sub-pipeline arg ($.u.filter(...)) re-enters _pipeline
            # and would clobber the lookahead with ITS tail
            tail_reads = getattr(self, "_tail_reads_order", True)
            self._pipe_end_ordered = True
            other = self._resolve_table(args[0].value)
            if other is None:
                return None
            # is the resolved table's physical order its doc order?
            # (set by _pipeline for sub-pipeline args; a plain table
            # scan runs an empty pipeline → True)
            rt_ok = getattr(self, "_pipe_end_ordered", True)
            lk, rk = _lit_str(args[1].value), _lit_str(args[2].value)
            # a MISSING key field is a per-row None lookup in doc mode
            # (equi_join_apply: o.get → None skips the row), so the
            # join is empty — synthesize a typed null key instead of
            # failing analysis (r9 soak catch: implode(v).equi_join(...)
            # raised where doc mode returned the empty result)
            synth = False
            if lk not in _vis_cols(df):
                dt2 = (other.schema[rk].dataType if rk in other.columns
                       else T.StringType())
                df = df.withColumn(lk, F.lit(None).cast(dt2))
                synth = True
            if rk not in other.columns:
                dt2 = df.schema[lk].dataType
                other = other.withColumn(rk, F.lit(None).cast(dt2))
                synth = True
            # key-match mode (r11 advice): a PRESENT-but-null key is
            # the val_to_key "null" bucket and MATCHES (array.rs:
            # 505-531) — only the synthesized missing-field key keeps
            # plain == (every lookup misses → the empty join)
            key_kw = ({} if synth else _join_key_kwargs(
                df.schema[lk].dataType, other.schema[rk].dataType,
                lk, rk))
            # equi_join_apply walks the RECEIVER in order (array.rs:
            # 489-548) and emits EVERY right match per receiver row in
            # right-array order (array.rs:505-531), so the output's
            # document order is (receiver position, right-array
            # position) — the receiver sort below carries the first
            # component, the rid surrogate the second. When
            # no order is carried, mint the scan-order surrogate (r9) —
            # previously the join went out unordered, _scan_ok flipped
            # off, and every order-dependent downstream stage (or a
            # min_by tie) doc-fell-back or silently diverged. Skip the
            # sort when NO remaining stage reads order (lookahead in
            # _pipeline): the relational contract owes no final-result
            # order, and a post-join .map/.filter/.count_by chain must
            # not pay a full sort it never observes (r9 bench catch:
            # jql_equi_join +104% under the last-stage-only hint).
            if order is None and tail_reads:
                df, order = self._maybe_scan_order(df, order)
            if order is not None:
                # materialize the carried order into hidden columns
                # BEFORE the merge: the right-wins column overwrite
                # rebinds name-resolved order exprs — `sort(-v)
                # .equi_join($.d, ...)` re-sorted by the RIGHT side's v
                # (r11 soak catch via the duplicate-key d table), the
                # same rebinding class _select_carry handles for map
                df, order = self._rematerialize_order(df, order)
            out_order = order
            if order is not None:
                # doc output order is (receiver position, RIGHT-ARRAY
                # position): equi_join_apply indexes ALL right matches
                # per key in right-array order (array.rs:505-514) and
                # emits every match per receiver row (array.rs:526-531).
                # The r9 receiver-only sort left a receiver row's
                # multiple matches TIED — shuffle-arbitrary under
                # duplicate right keys (r10 advice). Mint a right-side
                # doc-order surrogate as the secondary sort key
                # (appended whenever the receiver-order sort runs at
                # all — the id mint is a free narrow projection); valid
                # only when the right table's physical order is its doc
                # order (plain scan / order-materialized sub-pipeline).
                # When it isn't: warned doc fallback if a downstream
                # stage reads order (as before r9), else keep the
                # receiver-only sort — the ties are unobservable.
                if not rt_ok:
                    if tail_reads:
                        return None
                    self._order = order
                    return (R.equi_join(df, other, lk, rk, **key_kw)
                            .orderBy(*_order_by(order)))
                self._sort_seq = getattr(self, "_sort_seq", 0) + 1
                rid = f"__ord_rt{self._sort_seq}"
                other = other.withColumn(rid,
                                         F.monotonically_increasing_id())
                out_order = order + [(F.col(rid), False)]
            out = R.equi_join(df, other, lk, rk, **key_kw)
            if order is None:
                return out
            # restore the pipeline order the join shuffle destroyed so
            # position sinks downstream stay faithful
            self._order = out_order
            return out.orderBy(*_order_by(out_order))
        if name == "explode":
            return R.explode_field(df, _name_str(args[0].value))
        if name == "implode":
            if order is None:
                return None
            fld = _name_str(args[0].value)
            d2, go = doc_ord()
            # implode's OUTPUT ROW ORDER is doc-observable too: groups
            # appear in first-occurrence order, and a downstream
            # positional stage reads it (r9 fuzz catch: implode(v)
            # .first() returned a shuffle-arbitrary group). Restore it
            # via min(doc-order) per group — skipped when the tail is
            # order-blind, like equi_join's receiver-order sort.
            tail_reads = getattr(self, "_tail_reads_order", True)
            imp_ord = f"__ord_imp{self._sort_seq}" if tail_reads else None
            out = R.implode(d2, fld,
                            group_cols=[c2 for c2 in _vis_cols(df)
                                        if c2 != fld],
                            order=go, emit_order=imp_ord)
            if not tail_reads:
                return out
            self._order = [(F.col(imp_ord), False)]
            return out.orderBy(F.col(imp_ord).asc())
        if name == "pivot":
            # pivot keys stringify via val_to_key like every other
            # keyed reducer (pivot_apply keys an IndexMap) — render
            # them canonically before the relational pivot
            from jetro_spark.jql.compiler import _canon_str

            def keyed_df(d3, *keys):
                for kn in keys:
                    d3 = d3.withColumn(kn, F.coalesce(
                        _canon_str(F.col(kn), d3.schema[kn].dataType),
                        F.lit("null")))
                return d3
            has_tail = getattr(self, "_has_tail", False)
            if has_tail and len(args) == 3:
                # the 3-arg grid's nested-object navigation has no
                # row-shaped relational form — collapse to doc mode
                return None
            if order is None:
                return None   # last-wins / first-per-cell read order
            d2, go = doc_ord()
            # a MISSING field arg is a per-row Null in doc mode (key →
            # "null" bucket, value → null cell) — synthesize a typed
            # null column instead of crashing the driver-side schema
            # lookup (r10 soak catch: .map({k,v}).pivot(g, v) raised
            # PySparkKeyError where doc mode pivoted under "null")
            for nm in {_name_str(a.value) for a in args}:
                if nm not in d2.columns:
                    d2 = d2.withColumn(nm, F.lit(None).cast("string"))
            if len(args) == 2:
                kn = _name_str(args[0].value)
                if has_tail:
                    # NAVIGATION follows: emit the ordered-object ROW
                    # form (objrepr, the count_by/group_by convention)
                    # instead of the one-map row — a following stage
                    # read that map rowset as plain rows (r10 soak
                    # catch: .pivot(g, k).g2 was a one-sided
                    # CompileError, .keys() an uncontrolled ObjError),
                    # and collapsing at the pivot INPUT would funnel
                    # the whole table through one task; this way the
                    # pivot aggregates relationally and only |keys|
                    # rows reach any downstream fallback.
                    self._sort_seq = getattr(self, "_sort_seq", 0) + 1
                    eo = f"__ord_pv{self._sort_seq}"
                    out = R.pivot2_rows(keyed_df(d2, kn), kn,
                                        _name_str(args[1].value),
                                        order=go, emit_order=eo)
                    self._order = [(F.col(eo), False)]
                    return out.orderBy(F.col(eo).asc())
                return R.pivot2(keyed_df(d2, kn), kn,
                                _name_str(args[1].value), order=go)
            rn2, cn = _name_str(args[0].value), _name_str(args[1].value)
            return R.pivot3(keyed_df(d2, rn2, cn), rn2, cn,
                            _name_str(args[2].value), order=go)
        if name in ("to_csv", "to_tsv"):
            self._scalar = True
            # Relational form of the §2.1 sink: one formatted line per
            # row (same cell quoting as the doc-mode string builder,
            # helpers.rs:130-169) — the write-ready shape; doc mode's
            # single joined string would be a driver-side cliff at
            # table scale. Use JetroTables.write_csv for a real
            # distributed file sink.
            from jetro_spark.jql.compiler import _csv_cell
            sep = "," if name == "to_csv" else "\t"
            cols = _vis_cols(df)
            line = F.concat_ws(sep, *[
                _csv_cell(F.col(c2), df.schema[c2].dataType, sep)
                for c2 in cols])
            return df.select(line.alias("line"))
        if name in ("diff", "intersect", "union"):
            # diff_apply/intersect_apply/union_apply semantics
            # (collection.rs:594-646): filter the RECEIVER by key
            # membership in the other side — the receiver's DUPLICATES
            # and order are preserved (subtract()/intersect() were
            # dedup-ing SQL set ops AND lost the pipeline order;
            # unionByName() appended everything — r7 catches). union =
            # all of the receiver plus the other side's rows whose
            # value is not in the receiver.
            recv_scalar = self._scalar
            self._pipe_end_ordered = True
            other = self._resolve_table(args[0].value)
            if other is None:
                return None
            # _resolve_table re-enters _pipeline for sub-pipeline args,
            # clobbering _scalar with the OTHER side's shape — capture
            # it, then restore the receiver's (r12)
            oth_scalar = self._scalar
            self._scalar = recv_scalar
            # ordered union appends the other table's rows in the other
            # ARRAY's own order via a monotonic-id tag — valid only when
            # the resolved table's physical order is its doc order (same
            # r10 gate as equi_join's right side; an order-destroying
            # sub-pipeline arg would tag shuffle-arbitrary rows)
            rt_ok = getattr(self, "_pipe_end_ordered", True)
            vis = _vis_cols(df)
            ovis = [c2 for c2 in other.columns
                    if not c2.startswith("__ord")]
            canon_keys = False
            ldt = rdt = None
            if (recv_scalar and oth_scalar
                    and len(vis) == 1 and len(ovis) == 1):
                from jetro_spark.jql.compiler import (_canon_str,
                                                      _family,
                                                      _key_collide)
                ldt = df.schema[vis[0]].dataType
                rdt = other.schema[ovis[0]].dataType
                if _key_collide(ldt, rdt):
                    # scalar membership keys by val_to_key
                    # (util.rs:216-226: string "3" matches long 3, a
                    # NULL cell keys "null" and matches the literal
                    # string "null", a string matches a container's
                    # compact JSON — r12 catch + r13 ADVICE classes).
                    # Native equality would make Spark ANSI-coerce and
                    # crash at runtime on cross-family pairs.
                    # diff/intersect keep the receiver's rows and type;
                    # union keeps flowing to the generic path when the
                    # output stays homogeneous (string/null pair, cond
                    # canonicalized below via canon_keys), else its
                    # output is heterogeneous → warned doc fallback
                    # (m_union's variant lowering)
                    canon_keys = {_family(ldt), _family(rdt)} <= {
                        "string", "null"}
                    if name == "union" and not canon_keys:
                        return None
                    if name != "union":
                        lk2 = F.coalesce(_canon_str(F.col(vis[0]), ldt),
                                         F.lit("null"))
                        rk2 = F.coalesce(_canon_str(F.col(ovis[0]), rdt),
                                         F.lit("null"))
                        a4 = df.withColumn("__set_k", lk2).alias("__set_a")
                        o4 = (other.select(rk2.alias("__set_k"))
                              .alias("__set_o"))
                        how = "left_anti" if name == "diff" else "left_semi"
                        out = a4.join(
                            o4, F.col("__set_a.__set_k")
                            == F.col("__set_o.__set_k"), how).drop("__set_k")
                        self._order = order
                        return (out if order is None
                                else out.orderBy(*_order_by(order)))
                if vis[0] != ovis[0]:
                    # scalar column NAMES are incidental projection
                    # detail — align them so same-family scalars flow
                    # the value-membership path (pre-fix, a name
                    # mismatch took the cross-shape arm and kept rows
                    # val_to_key says to drop)
                    other = other.withColumnRenamed(ovis[0], vis[0])
            if sorted(vis) != sorted(other.columns):
                # cross-shape rows never compare equal (vals_eq):
                # diff keeps everything, intersect keeps nothing;
                # union would need a mixed-shape row set → fallback
                if name == "diff":
                    self._order = order
                    return df
                if name == "intersect":
                    self._order = order
                    return df.limit(0)
                return None
            if not recv_scalar and len(vis) > 0:
                from jetro_spark.jql.compiler import eq_comparable
                lst = T.StructType([
                    T.StructField(c2, df.schema[c2].dataType)
                    for c2 in vis])
                rst = T.StructType([
                    T.StructField(c2, other.schema[c2].dataType)
                    for c2 in vis])
                if not eq_comparable(lst, rst):
                    # same field NAMES but a cross-family field TYPE:
                    # object rows key by their JSON serialization
                    # (val_to_key → val_to_string), where a string
                    # field renders QUOTED — never equal to a number
                    # field. Native equality would ANSI-coerce and
                    # crash (the r12 soak catch via the string-keyed
                    # join vocab); these are the cross-shape arms
                    if name == "diff":
                        self._order = order
                        return df
                    if name == "intersect":
                        self._order = order
                        return df.limit(0)
                    return None   # union: widen via the doc lowering
            if name == "union":
                a3 = df.select(*vis).alias("__set_a")
                o3 = other.select(*vis).alias("__set_o")
                cond = None
                for v2 in vis:
                    if canon_keys:
                        # scalar string/null pair: membership keys by
                        # val_to_key, where a NULL cell renders "null"
                        # and matches the literal string (r13)
                        from jetro_spark.jql.compiler import _canon_str
                        eq2 = (F.coalesce(
                            _canon_str(F.col(f"__set_a.{v2}"), ldt),
                            F.lit("null"))
                            == F.coalesce(
                                _canon_str(F.col(f"__set_o.{v2}"), rdt),
                                F.lit("null")))
                    else:
                        eq2 = (F.col(f"__set_a.{v2}")
                               .eqNullSafe(F.col(f"__set_o.{v2}")))
                    cond = eq2 if cond is None else (cond & eq2)
                if order is None:
                    self._order = None
                    self._has_union = True
                    newbies = o3.join(a3, cond, "left_anti")
                    return df.select(*vis).unionByName(newbies)
                if not rt_ok:
                    return None   # append order unrecoverable → fallback
                # ordered (r8; was a doc fallback): receiver rows keep
                # their pipeline order and come first; appended rows
                # (other-side values absent from the receiver, dups and
                # all — union_apply never extends a_keys,
                # collection.rs:611-626) follow in the other table's own
                # order, tagged with a monotonic id (partition-prefixed,
                # so it reproduces the scan order the doc path collects
                # in). Sort spec = (priority, receiver keys, append id);
                # the cross-group nulls in each key are tie-constant
                # within their group. Hidden names carry a per-stage
                # unique prefix: Column refs resolve by NAME at action
                # time, so a second union overwriting `__ordu0` would
                # corrupt an order list still pointing at it.
                self._setop_seq = getattr(self, "_setop_seq", 0) + 1
                p2 = f"__ordu{self._setop_seq}_"
                recv = df
                for i2, (c3, _d3) in enumerate(order):
                    recv = recv.withColumn(f"{p2}k{i2}", c3)
                o_tag = (other.select(*vis)
                         .withColumn(f"{p2}id",
                                     F.monotonically_increasing_id())
                         .alias("__set_o"))
                newbies = o_tag.join(a3, cond, "left_anti")
                ord_ts = [recv.schema[f"{p2}k{i2}"].dataType
                          for i2 in range(len(order))]
                recv2 = recv.select(
                    *vis,
                    *[F.col(f"{p2}k{i2}") for i2 in range(len(order))],
                    F.lit(None).cast("long").alias(f"{p2}id"),
                    F.lit(0).alias(f"{p2}pri"))
                newb2 = newbies.select(
                    *vis,
                    *[F.lit(None).cast(t2).alias(f"{p2}k{i2}")
                      for i2, t2 in enumerate(ord_ts)],
                    F.col(f"{p2}id"),
                    F.lit(1).alias(f"{p2}pri"))
                self._order = (
                    [(F.col(f"{p2}pri"), False)] +
                    [(F.col(f"{p2}k{i2}"), d3)
                     for i2, (_c3, d3) in enumerate(order)] +
                    [(F.col(f"{p2}id"), False)])
                self._has_union = True
                return recv2.unionByName(newb2)
            a2, o2 = df.alias("__set_a"), other.select(*vis).alias("__set_o")
            cond = None
            for v2 in vis:
                eq2 = F.col(f"__set_a.{v2}").eqNullSafe(F.col(f"__set_o.{v2}"))
                cond = eq2 if cond is None else (cond & eq2)
            how = "left_anti" if name == "diff" else "left_semi"
            self._order = order
            out = a2.join(o2, cond, how)
            # anti/semi joins keep each receiver row at most once, so
            # no dedup — just restore the pipeline order the join
            # shuffle destroyed
            return out if order is None else out.orderBy(*_order_by(order))
        if name == "compact":
            # drop null elements (ops/collection.rs:23); object rows are
            # non-null structs, so multi-column inputs pass through
            self._order = order
            vis = _vis_cols(df)
            if len(vis) == 1 and self._scalar:
                return df.filter(F.col(vis[0]).isNotNull())
            return df
        if name == "flatten":
            # array-of-arrays rows → element rows: explode IS the
            # relational flatten; deeper levels flatten row-locally first
            vis = _vis_cols(df)
            if len(vis) != 1 or not self._scalar:
                return None
            col2, dt = F.col(vis[0]), df.schema[vis[0]].dataType
            if not isinstance(dt, T.ArrayType):
                return None
            n = _opt_int(args, 1) or 1
            for _ in range(n - 1):
                if not isinstance(dt.elementType, T.ArrayType):
                    break
                col2, dt = F.flatten(col2), dt.elementType
            el = dt.elementType
            out = df.select(F.explode(col2).alias("__e"))
            if isinstance(el, T.StructType):
                self._scalar = False
                return out.select("__e.*")
            self._scalar = True
            return out.select(F.col("__e").alias(vis[0]))
        if name in ("find_first", "find_one"):
            # filter(pred) + First (the TerminalExprArg lowering,
            # defs.rs:975-1000) — so the no-match case is the scalar
            # Null, padded exactly like first() (r13: the unpadded
            # empty rowset diverged from doc mode's None)
            self._order = order
            hits = df.filter(pred(args[0].value))
            if getattr(self, "_has_union", False):
                h2, o2 = self._maybe_scan_order(hits, order)
                if o2 is not None:
                    return self._pad_single_null(
                        self._ordered_prefix(h2, o2, 1))
            return self._pad_single_null(hits.limit(1))
        if name == "find_index":
            # 0-based index of first match over the pipeline order, -1
            # when absent (ops/array.rs:293); unordered → doc fallback
            if order is None:
                return None
            self._scalar = True
            from pyspark.sql.window import Window
            w = Window.orderBy(*_order_by(order))
            ok = pred(args[0].value)
            d2 = df.select((F.row_number().over(w) - 1).alias("__fi_rn"),
                           ok.alias("__fi_ok"))
            return d2.filter(F.col("__fi_ok")).agg(
                F.coalesce(F.min("__fi_rn"), F.lit(-1))
                .cast("long").alias("value"))
        if name in ("includes", "contains"):
            # membership over the rowset → one-pass bool_or aggregation;
            # null-safe (a null probe matches null cells — Val::Null
            # keys as "null" in includes_apply) and TOTAL: a provably
            # cross-kind probe is constant false, not a CompileError
            from jetro_spark.jql.compiler import (_canon_str,
                                                  eq_comparable,
                                                  _key_collide,
                                                  _reorder_struct_probe)
            vis = _vis_cols(df)
            vt = c.compile(args[0].value, env)
            never = df.limit(0).agg(
                F.coalesce(F.bool_or(F.lit(False)),
                           F.lit(False)).alias("value"))
            if len(vis) == 1 and self._scalar:
                cell_t = df.schema[vis[0]].dataType
                self._scalar = True
                if _key_collide(cell_t, vt.dtype):
                    # val_to_key canonical keys (same collision classes
                    # as the set ops — "3" matches 3, null matches the
                    # literal "null", a string matches a container's
                    # compact JSON — r13)
                    eqc = (F.coalesce(_canon_str(F.col(vis[0]), cell_t),
                                      F.lit("null"))
                           == F.coalesce(_canon_str(vt.col, vt.dtype),
                                         F.lit("null")))
                elif not eq_comparable(cell_t, vt.dtype):
                    return never
                else:
                    eqc = F.col(vis[0]).eqNullSafe(
                        _reorder_struct_probe(vt, cell_t))
                return df.agg(F.coalesce(F.bool_or(eqc),
                                         F.lit(False)).alias("value"))
            # object rowset: the pipeline is a list of row objects —
            # membership compares each ROW to the probe (includes_apply
            # Val::Arr arm); a non-object or schema-mismatched probe
            # never matches, a matching-schema struct probe does
            row_t = T.StructType([df.schema[v2] for v2 in vis])
            self._scalar = True
            if not eq_comparable(row_t, vt.dtype):
                return never
            probe = _reorder_struct_probe(vt, row_t)
            return df.agg(F.coalesce(
                F.bool_or(F.struct(*[F.col(v2) for v2 in vis])
                          .eqNullSafe(probe)),
                F.lit(False)).alias("value"))
        if name in ("index", "index_of"):
            # first 0-based position of the value over the pipeline
            # order, -1 when absent (ops/array.rs index)
            if order is None:
                return None
            vis = _vis_cols(df)
            if len(vis) != 1 or not self._scalar:
                return None
            from pyspark.sql.window import Window
            from jetro_spark.jql.compiler import (_canon_str,
                                                  eq_comparable,
                                                  _cross_renders)
            w = Window.orderBy(*_order_by(order))
            self._scalar = True
            vt = c.compile(args[0].value, env)
            cell_t = df.schema[vis[0]].dataType
            if (not eq_comparable(cell_t, vt.dtype)
                    or _cross_renders(cell_t, vt.dtype)):
                # the index family compares via TYPE-STRICT vals_eq —
                # cross-kind probes (incl. string-vs-number, which
                # Spark would ANSI-cast) never match → -1, total
                return df.limit(0).agg(
                    F.coalesce(F.min(F.lit(0)), F.lit(-1))
                    .cast("long").alias("value"))
            d2 = df.select((F.row_number().over(w) - 1).alias("__ix_rn"),
                           (F.col(vis[0]) == vt.col).alias("__ix_ok"))
            return d2.filter(F.col("__ix_ok")).agg(
                F.coalesce(F.min("__ix_rn"), F.lit(-1))
                .cast("long").alias("value"))
        if name == "join":
            # string join sink: one-pass collect + array_join; the rn tag
            # keeps the pipeline order through the unordered agg
            vis = _vis_cols(df)
            if len(vis) != 1 or not self._scalar:
                return None
            self._scalar = True
            sep = _lit_str(args[0].value) if args else ""
            tagged, arr = _collected_elems(df, F.col(vis[0]), order,
                                           elem_dt=df.schema[vis[0]].dataType)
            return tagged.agg(F.array_join(arr, sep).alias("value"))
        if name in ("indices_where", "indices_of", "last_index_of"):
            # position queries over the pipeline order → one-pass agg of
            # tagged row numbers (indices_where/_of: sorted index array;
            # last_index_of: max index, -1 absent — ops/array.rs)
            if order is None:
                return None
            vis = _vis_cols(df)
            if name != "indices_where" and (len(vis) != 1
                                            or not self._scalar):
                return None
            from pyspark.sql.window import Window
            w = Window.orderBy(*_order_by(order))
            if name == "indices_where":
                ok = pred(args[0].value)
            else:
                v = c.compile(args[0].value, env).col
                # eqNullSafe: doc-mode AR.indices_of finds null values
                ok = F.col(vis[0]).eqNullSafe(v)
            self._scalar = True
            d2 = df.select((F.row_number().over(w) - 1).cast("long")
                           .alias("__iw_rn"), ok.alias("__iw_ok"))
            hits = d2.filter(F.col("__iw_ok"))
            if name == "last_index_of":
                return hits.agg(F.coalesce(F.max("__iw_rn"), F.lit(-1))
                                .cast("long").alias("value"))
            # array result → rows (the fallback's explode convention)
            return (hits.agg(F.array_sort(F.collect_list("__iw_rn"))
                             .alias("__v"))
                    .select(F.explode_outer("__v").alias("value")))
        if name == "to_json":
            # whole-pipeline JSON sink: ordered collect + to_json — the
            # same one-row driver-cliff class as join(sep); use
            # write_csv/write_parquet for table-scale exports
            vis = _vis_cols(df)
            if len(vis) == 1 and self._scalar:
                elem = F.col(vis[0])
                ed: T.DataType = df.schema[vis[0]].dataType
            else:
                elem = F.struct(*[F.col(c2) for c2 in vis])
                ed = T.StructType(
                    [f for f in df.schema.fields if f.name in vis])
            tagged, arr = _collected_elems(df, elem, order, elem_dt=ed)
            self._scalar = True
            return tagged.agg(F.to_json(arr).alias("value"))
        if name == "window":
            # sliding windows of n consecutive rows over the pipeline
            # order (ops/collection.rs window): per-row frame collect,
            # short tails dropped — bounded by the user's n like chunk
            if order is None or not args:
                return None
            self._scalar = True
            n = _lit_int(args[0].value)
            if n <= 0:
                raise CompileError("window size must be positive")
            from pyspark.sql.window import Window
            w = Window.orderBy(*_order_by(order))
            vis = _vis_cols(df)
            elem = (F.col(vis[0]) if len(vis) == 1
                    else F.struct(*[F.col(c2) for c2 in vis]))
            # struct wrapper: collect_list drops bare nulls, doc windows
            # keep them ([7.5, null] is a valid window of 2)
            win = F.transform(
                F.collect_list(F.struct(elem.alias("__w_e"))).over(
                    w.rowsBetween(Window.currentRow, n - 1)),
                lambda s: s["__w_e"])
            out = (df.select((F.row_number().over(w) - 1).alias("__ord0"),
                             win.alias("value"))
                   .filter(F.size("value") == n)
                   .select("value", "__ord0"))
            self._order = [(F.col("__ord0"), False)]
            return out
        if name == "partition":
            # {pass: [...], fail: [...]} → one-pass agg with map-side
            # partials; preserves pipeline order via the rn tag
            ok = pred(args[0].value)
            vis = _vis_cols(df)
            elem = (F.col(vis[0]) if len(vis) == 1
                    else F.struct(*[F.col(c2) for c2 in vis]))
            m = F.coalesce(ok, F.lit(False))
            if order is not None:
                from pyspark.sql.window import Window
                w = Window.orderBy(*_order_by(order))
                tagged = df.select(F.row_number().over(w).alias("__p_rn"),
                                   m.alias("__p_m"), elem.alias("__p_e"))
                elem_pdt = (df.schema[vis[0]].dataType if len(vis) == 1
                            else T.StructType([df.schema[c2]
                                               for c2 in vis]))
                arr = R.sort_by_field(
                    F.collect_list(F.struct("__p_rn", "__p_m", "__p_e")),
                    "__p_rn", payload_dt=elem_pdt)
            else:
                tagged = df.select(F.lit(0).alias("__p_rn"),
                                   m.alias("__p_m"), elem.alias("__p_e"))
                arr = F.collect_list(F.struct("__p_rn", "__p_m", "__p_e"))
            keep = F.transform(F.filter(arr, lambda s: s["__p_m"]),
                               lambda s: s["__p_e"])
            drop = F.transform(F.filter(arr, lambda s: ~s["__p_m"]),
                               lambda s: s["__p_e"])
            return tagged.agg(keep.alias("pass"), drop.alias("fail"))
        if name == "group_shape":
            # group_shape(key_λ, shape_λ): groupBy the STRINGIFIED key
            # (doc semantics, ops/array.rs:841-863), shape applied to the
            # per-key collected array — parallel by key, unlike the doc
            # fallback's whole-table collect
            vis = _vis_cols(df)
            if len(vis) == 1:
                elem: Column = F.col(vis[0])
                elem_dt: T.DataType = df.schema[vis[0]].dataType
            else:
                elem = F.struct(*[F.col(c2) for c2 in vis])
                elem_dt = T.StructType(
                    [f for f in df.schema.fields if f.name in vis])
            key_fn, _kd = c._lam(args[0].value, env, elem_dt)
            from jetro_spark.jql.compiler import _canon_str
            if order is None:
                return None   # group sequences read pipeline order (r9)
            df, go = doc_ord()
            # struct wrapper: collect_list drops bare null elements, doc
            # group arrays keep them; sorted by the doc-order surrogate
            # so the per-key sequence is pipeline order, not shuffle
            # arrival order (r9)
            wrapped = F.transform(
                R.sort_by_field(F.collect_list(
                    F.struct(F.col(go).alias("__o"), elem.alias("__e"))),
                    payload_dt=elem_dt),
                lambda s: s["__e"])
            # first-seen key order is doc-observable when navigation
            # follows, like group_by (r10)
            tail_reads = getattr(self, "_tail_reads_order", True)
            aggs = [wrapped.alias("__grp")]
            eo = f"__ord_gs{self._sort_seq}" if tail_reads else None
            if eo is not None:
                aggs.append(F.min(F.col(go)).alias(eo))
            # canonical val_to_key string like every keyed reducer:
            # Null key renders as "null" (r10 soak catch — the bare
            # cast left a SQL NULL key where doc mode groups under
            # "null"), integral doubles drop the trailing .0
            key_c = F.coalesce(_canon_str(key_fn(elem), _kd),
                               F.lit("null"))
            grouped = (df.groupBy(key_c.alias("key"))
                       .agg(*aggs))
            shape_fn, _sd = c._lam(args[1].value, env, T.ArrayType(elem_dt))
            extras = [F.col(eo)] if eo is not None else []
            out = grouped.select(F.col("key"),
                                 shape_fn(F.col("__grp")).alias("value"),
                                 *extras)
            if eo is None:
                return out
            self._order = [(F.col(eo), False)]
            return out.orderBy(F.col(eo).asc())
        return None

    def _accumulate_window(self, df: DataFrame, args, env: Env,
                           order: list | None) -> DataFrame | None:
        """Relational accumulate for the running-sum lambda shape (see
        _method_stage): window prefix sum over the pipeline order.
        Returns None (→ doc fallback) for any other fold body, missing
        order, or non-scalar init."""
        if order is None or not args:
            return None
        lam = args[0].value
        if not isinstance(lam, A.Lambda) or len(lam.params) != 2:
            return None
        acc_name, x_name = lam.params
        body = lam.body
        if not (isinstance(body, A.Binary) and body.op == "+"):
            return None
        if isinstance(body.left, A.Ident) and body.left.name == acc_name:
            term = body.right
        elif isinstance(body.right, A.Ident) and body.right.name == acc_name:
            term = body.left
        else:
            return None
        # the term must not reference the accumulator (a + a*x etc.)
        refs: set[str] = set()

        def walk(n):
            if isinstance(n, A.Ident):
                refs.add(n.name)
            for f in getattr(n, "__dataclass_fields__", {}):
                v = getattr(n, f)
                for it in (v if isinstance(v, (list, tuple)) else [v]):
                    if isinstance(it, A.Node):
                        walk(it)
        walk(term)
        if acc_name in refs:
            return None
        init = F.lit(0.0)
        init_dt: T.DataType = T.DoubleType()
        have_init = False
        if len(args) > 1:
            itc = self.c.compile(args[1].value, env)
            if not isinstance(itc.dtype, (T.NumericType, T.NullType)):
                return None
            init, init_dt, have_init = itc.col, itc.dtype, True
        vis = _vis_cols(df)
        if isinstance(term, A.Ident) and term.name == x_name:
            # bare element: the pipeline's single scalar column
            if len(vis) != 1:
                return None
            term_col, term_dt = F.col(vis[0]), df.schema[vis[0]].dataType
        else:
            env2 = env.bind(x_name, self._row_tc(df))
            tc = self.c.compile(term, env2)
            if tc.col is None:
                return None
            term_col, term_dt = tc.col, tc.dtype
        # the running-SUM shape only holds for numeric terms: doc-mode
        # `a + x` on strings is CONCAT (add_vals, util.rs:261-268) and
        # casting would ANSI-throw or null out — fall back (r11)
        if not isinstance(term_dt, (T.NumericType, T.NullType)):
            return None
        # Accumulator typing mirrors doc-mode m_accumulate (compiler.py):
        # the result type is the `+`-promotion of init and element, so an
        # explicit integral init over integral terms folds in long (exact
        # above 2^53); everything else — including the implicit 0.0
        # default — folds in double.
        if (have_init and isinstance(init_dt, T.IntegralType)
                and isinstance(term_dt, T.IntegralType)):
            out_t = "long"
        else:
            out_t = "double"
        init = init.cast(out_t)
        term_col = term_col.cast(out_t)
        from pyspark.sql.window import Window
        w = (Window.orderBy(*_order_by(order))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        hid = [F.col(c2) for c2 in df.columns if c2.startswith("__ord")]
        # doc mode folds a + x null-PROPAGATINGLY (a null element poisons
        # the accumulator for every later position; the reference errors
        # there — add_vals has no null case — and the repo's documented
        # distributed-plan contract renders value-level type errors as
        # null), while window SUM SKIPS nulls: poison explicitly from
        # the first null term onward (r11 soak catch via the null-key
        # d-table vocab)
        seen_null = F.max(F.when(term_col.isNull(), F.lit(1))
                          .otherwise(F.lit(0))).over(w)
        run = (init + F.sum(term_col).over(w)).cast(out_t)
        out = df.select(
            F.when(seen_null == 1, F.lit(None).cast(out_t))
            .otherwise(run).alias("value"), *hid)
        self._order = order
        return out

    def _first_seen_dedup(self, df: DataFrame, order) -> DataFrame:
        """Dedup on the VISIBLE columns only, keeping the FIRST
        occurrence in pipeline order (unique_arr_apply first-seen-order
        semantics, collection.rs:78-88). A plain distinct() would also
        compare the hidden __ord columns an ordered pipeline carries,
        making every row "unique" (r7 fuzz catch). The winner keeps its
        order columns, and the rows re-sort afterwards because the
        dedup window's shuffle destroys the physical order position
        sinks (first/nth/limit) rely on."""
        vis = _vis_cols(df)
        if set(vis) == set(df.columns):
            out = df.distinct()
            # distinct() shuffles — restore the physical pipeline order
            # position sinks (first/nth/limit) rely on
            return out if order is None else out.orderBy(*_order_by(order))
        if order is None:
            return df.select(*vis).distinct()
        from pyspark.sql.window import Window
        w = (Window.partitionBy(*[F.col(v2) for v2 in vis])
             .orderBy(*_order_by(order)))
        return (df.withColumn("__uq_rn", F.row_number().over(w))
                .filter(F.col("__uq_rn") == 1).drop("__uq_rn")
                .orderBy(*_order_by(order)))

    def _pad_single_null(self, taken: DataFrame) -> DataFrame:
        """Guarantee exactly one row: ``taken`` (already ``limit(1)``-
        shaped) when it has a row, else one ALL-NULL row — relational
        mode's representation of the reference's scalar ``Null`` result
        for ``first()``/``last()``/``nth(i)`` on an empty/out-of-bounds
        pipeline (first_apply/last_apply unwrap ``n == 1`` to a scalar
        with ``Null`` fallback; ``get_index`` returns ``Null`` OOB). A
        DataFrame cannot hold a "null row", so a scalar-null result of
        an OBJECT pipeline appears as a row with every column null.

        Lowered as a global AGGREGATE, not the old
        null-row-union + orderBy(pri) + limit(1): Spark 4.1's AQE
        re-optimization can DROP a top-level Sort+GlobalLimit above a
        Union after a branch materializes empty (flaky, stage-order
        dependent; minimal repro pinned in
        test_regressions.test_minby_padding_aqe_union_limit) — the r12
        soak caught collect() returning the winner AND the pad row. An
        ungrouped aggregate is exactly-one-row by construction: first()
        over the single row, or null over the empty frame.

        Plan cost: one partial+final agg over <= 1 row — nothing
        distributed changes."""
        fields = taken.schema.fields
        w = taken.agg(F.first(F.struct(
            *[F.col(f.name) for f in fields])).alias("__w"))
        return w.select(*[F.col("__w").getField(f.name).alias(f.name)
                          for f in fields])

    def _window_stage(self, df: DataFrame, name: str, args,
                      order: list | None) -> DataFrame | None:
        """Positional analytics over the pipeline's sequence order (§2.6).

        Document mode treats the pipeline as one ordered array; a Spark
        DataFrame has no intrinsic row order, so the order comes from the
        preceding ``.sort(...)`` stage (required). Lowering: a global
        un-partitioned Window over the sort keys — faithful to the
        single-sequence semantics and, like the reference's one-thread
        scan (ops/collection.rs:124-343), inherently sequential; for
        partition-parallel analytics at scale use the keyed forms in
        operators/analytics.py (with_lag etc. take partition columns).
        ``zscore`` instead lowers to a two-pass agg + broadcast join —
        no single-partition window at all."""
        from pyspark.sql.window import Window

        if order is None:
            # unordered AND the scan-order surrogate is unavailable (a
            # shuffle upstream made row order arbitrary): the doc
            # fallback preserves semantics — raising here was a
            # one-sided error vs doc mode (r8 unsorted-pipeline fuzz)
            return None
        data = _vis_cols(df)
        if len(data) != 1:
            raise CompileError(
                f"{name}: expected a single projected column "
                f"(use .map(field) first), got {data}")
        cname = data[0]
        dt = df.schema[cname].dataType
        # numeric_options coercion (ops/collection.rs:89-105)
        if isinstance(dt, (T.NumericType, T.NullType)):
            x = F.col(cname).cast("double")
        elif isinstance(dt, T.VariantType):
            x = F.try_variant_get(F.col(cname), "$", "double")
        else:
            x = F.lit(None).cast("double")
        self._order = order
        hid = [F.col(c) for c in df.columns if c.startswith("__ord")]
        if name == "zscore":
            stats = df.agg(F.avg(x).alias("__mean"),
                           F.stddev_pop(x).alias("__sd"))
            z = (F.when(x.isNull(), F.lit(None).cast("double"))
                 .when(F.col("__sd") > 0, (x - F.col("__mean")) / F.col("__sd"))
                 .when(F.col("__mean").isNull(), F.lit(None).cast("double"))
                 .otherwise(F.lit(0.0)))
            return df.crossJoin(F.broadcast(stats)).select(z.alias(cname), *hid)
        w = Window.orderBy(*[c.desc() if d else c.asc() for c, d in order])
        if name == "lag":
            col = F.lag(x, _opt_int(args, 1)).over(w)
        elif name == "lead":
            col = F.lead(x, _opt_int(args, 1)).over(w)
        elif name == "diff_window":
            col = x - F.lag(x, 1).over(w)
        elif name == "pct_change":
            prev = F.lag(x, 1).over(w)
            # pct_change guards `p != 0.0` → null (ops/collection.rs:264)
            # while the `/` operator errors — so try_divide here
            col = F.try_divide(x - prev, prev)
        elif name in ("cummax", "cum_max"):
            col = F.max(x).over(w.rowsBetween(Window.unboundedPreceding, 0))
        elif name in ("cummin", "cum_min"):
            col = F.min(x).over(w.rowsBetween(Window.unboundedPreceding, 0))
        else:
            n = _opt_int(args, None)
            if n is None or n <= 0:
                raise CompileError(f"{name}: window must be > 0")
            agg = {"rolling_sum": F.sum, "rolling_avg": F.avg,
                   "rolling_min": F.min, "rolling_max": F.max}[name]
            body = agg(x).over(w.rowsBetween(1 - n, 0))
            if name == "rolling_sum":
                # full all-null window sums the empty set to 0.0
                body = F.coalesce(body, F.lit(0.0))
            col = F.when(F.row_number().over(w) >= n, body)
        return df.select(col.alias(cname), *hid)

    def _table_refs(self, nodes: list[A.Node]) -> set[str]:
        """Names of registered tables referenced via `$.<name>` anywhere
        in the given AST nodes (generic dataclass walk)."""
        import dataclasses
        refs: set[str] = set()

        def walk(n):
            if isinstance(n, A.Path) and isinstance(n.base, A.Root)                     and n.steps and isinstance(n.steps[0], A.Field)                     and n.steps[0].name in self.tables:
                refs.add(n.steps[0].name)
            if dataclasses.is_dataclass(n) and not isinstance(n, type):
                for f in dataclasses.fields(n):
                    walk(getattr(n, f.name))
            elif isinstance(n, (list, tuple)):
                for x in n:
                    walk(x)

        for n in nodes:
            walk(n)
        return refs

    def _resolve_table(self, node: A.Node) -> DataFrame | None:
        if isinstance(node, A.Path) and isinstance(node.base, A.Root) \
                and len(node.steps) >= 1 and isinstance(node.steps[0], A.Field) \
                and node.steps[0].name in self.tables:
            nm = node.steps[0].name
            return self._pipeline(self.tables[nm], node.steps[1:],
                                  scan_ok=self._tables_ordered.get(nm, True))
        # a LET-BOUND sub-plan as the table arg: `let d = ... in
        # $.s.equi_join(d, ...)` parses the arg as an Ident path (r10)
        if isinstance(node, A.Path) and isinstance(node.base, A.Ident) \
                and node.base.name in self.tables:
            nm = node.base.name
            return self._pipeline(self.tables[nm], node.steps,
                                  scan_ok=self._tables_ordered.get(nm, True))
        if isinstance(node, A.Ident) and node.name in self.tables:
            self._pipe_end_ordered = self._tables_ordered.get(node.name, True)
            return self.tables[node.name]
        return None

    # ------------------------------------------------------- fallback

    # collect_list ceiling for _doc_fallback: above this Catalyst size
    # estimate the fallback REFUSES instead of OOMing an executor at
    # scale (override via JETRO_FALLBACK_MAX_BYTES; 0 disables)
    FALLBACK_MAX_BYTES = 1 << 30

    def _doc_fallback(self, df: DataFrame, steps: list[A.Node],
                      order: list | None = None) -> DataFrame:
        """Collapse remaining stages to document mode over a collected
        array. Correct for any builtin; single-task — the scale
        cliff is explicit: warned below the size ceiling, refused above
        it (a forgotten `$.lineitem...zip(...)` at 100 TB must fail
        loudly, not OOM — round-2 verdict item).

        Scalar pipelines (one visible column, e.g. after `map(id)`)
        collect a bare array<scalar>, not array<struct> — same element
        convention as the enumerate/chunk stages; wrapping broke every
        element-typed builtin downstream (includes/join/flatten/…).
        A live sort order rides into the collected array via a
        row_number tag so order-sensitive folds see the pipeline order
        (the window is single-partition, but so is the whole fallback)."""
        import os
        limit = int(os.environ.get("JETRO_FALLBACK_MAX_BYTES",
                                   self.FALLBACK_MAX_BYTES))
        if limit:
            # None = no real estimate (Connect, local relations) — only
            # refuse on file-source statistics; degrade to warn-only
            est = plan_size_estimate(df)
            if est is not None and est > limit:
                names = [getattr(s, "name", type(s).__name__) for s in steps]
                raise CompileError(
                    f"stage {names[0]!r} has no relational lowering and the "
                    f"input is estimated at {est >> 20} MiB — refusing the "
                    "single-task document fallback (raise "
                    "JETRO_FALLBACK_MAX_BYTES to override)")
        warnings.warn(
            "jql: stage has no relational lowering; collapsing to a "
            "single-task document pipeline", stacklevel=2)
        vis = _vis_cols(df)
        scalar = self._scalar and len(vis) == 1
        if scalar:
            elem = F.col(vis[0])
            elem_dt: T.DataType = df.schema[vis[0]].dataType
        else:
            elem = F.struct(*[F.col(c) for c in vis])
            elem_dt = T.StructType(
                [f for f in df.schema.fields if f.name in vis])
        tagged, arr = _collected_elems(df, elem, order or None,
                                       elem_dt=elem_dt)
        arr_df = tagged.agg(arr.alias("__arr"))
        tc = TC(F.col("__arr"), T.ArrayType(elem_dt))
        # table-arg builtins inside the collapsed pipeline (zip($.u),
        # append($.u.map(x)), ...) need `$` bound: collect each
        # REFERENCED table (same size ceiling) onto the one-row frame
        # and expose them as a struct root
        refs = sorted(self._table_refs(steps))
        root_tc = None
        if refs:
            root_fields = []
            for name in refs:
                tdf = self.tables[name]
                if limit:
                    t_est = plan_size_estimate(tdf)
                    if t_est is not None and t_est > limit:
                        raise CompileError(
                            f"table {name!r} referenced inside a document "
                            f"fallback is estimated at {t_est >> 20} MiB — "
                            "refusing the single-task collect (raise "
                            "JETRO_FALLBACK_MAX_BYTES to override)")
                trow = tdf.agg(F.collect_list(
                    F.struct(*tdf.columns)).alias(f"__tbl_{name}"))
                arr_df = arr_df.crossJoin(trow)
                root_fields.append(T.StructField(
                    f"__tbl_{name}",
                    T.ArrayType(T.StructType(tdf.schema.fields)), True))
            root_tc = TC(
                F.struct(*[F.col(f"__tbl_{n}").alias(n) for n in refs]),
                T.StructType([
                    T.StructField(n, f.dataType, True)
                    for n, f in zip(refs, root_fields)]))
        env = Env(root=root_tc, current=tc)
        for step in steps:
            tc = self.c.step(tc, step, env)
        # scalar pipelines keep their projected column name through the
        # fallback (`map(n_name).reverse()` stays `n_name` — the
        # _scalar_name convention); object elements expand to columns
        name = vis[0] if scalar else "value"
        out = arr_df.select(tc.col.alias("value"))
        # explode arrays back to rows so the result stays a row-shaped
        # DataFrame (and downstream .write/noop parallelizes again) —
        # UNLESS the final step returns a single ELEMENT that happens
        # to be an array (pairwise().first() is ONE pair): the native
        # lowerings keep that as one row with an array cell, and
        # exploding it would misrepresent the scalar as a rowset
        # (r7 soak catch)
        if (isinstance(tc.dtype, T.ArrayType) and not is_objrepr(tc.dtype)
                and not _element_sink(steps[-1] if steps else None)):
            # a NULL result stays one null row (the scalar-Null
            # representation), but an EMPTY list must explode to ZERO
            # rows — explode_outer conflated the two, minting a phantom
            # null element from an empty pipeline (r8 unsorted-soak
            # catch: a mass-filtered frame reaching a fallback stage)
            arr2 = F.when(F.col("value").isNull(),
                          F.array(F.lit(None)
                                  .cast(tc.dtype.elementType))) \
                .otherwise(F.col("value"))
            out = out.select(F.explode(arr2).alias(name))
            if isinstance(tc.dtype.elementType, T.StructType):
                out = out.select(f"{name}.*")
        return out


def _element_sink(step) -> bool:
    """Does this final pipeline step return a single ELEMENT of the
    stream (first/last n==1, nth, find_first, min/max/min_by/max_by)?
    Element results keep their own shape — an array element stays one
    array cell, never exploded back into rows."""
    if not isinstance(step, A.Method):
        return False
    if step.name in ("first", "last"):
        if not step.args:
            return True
        try:
            return _lit_int(step.args[0].value) == 1
        except Exception:
            return False
    return step.name in ("nth", "find_first", "find_one",
                         "min_by", "max_by", "min", "max")


def _opt_int(args, default=None):
    return _lit_int(args[0].value) if args else default


def _lit_int(node: A.Node) -> int:
    if isinstance(node, A.Neg):
        return -_lit_int(node.expr)
    if isinstance(node, A.Literal) and isinstance(node.value, int):
        return node.value
    raise CompileError("expected integer literal")


def _name_str(node: A.Node) -> str:
    """Field-name argument: bare identifier or string literal (the doc
    builtins accept both — mod.rs:2590)."""
    if isinstance(node, A.Ident):
        return node.name
    return _lit_str(node)


def _lit_str(node: A.Node) -> str:
    if isinstance(node, A.Literal) and isinstance(node.value, str):
        return node.value
    raise CompileError("expected string literal")
