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
(IndexMap, value.rs:47) and field order is observable in results. One
walk interns the document's shapes (``Shapes``) and builds one Spark type
per distinct shape, so a uniform array of n objects costs one struct
type (jetro's ObjVec keeps one key set per object array, value.rs:52-84).
Shapes that conflict widen to variant, at whatever depth they meet.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import threading
import warnings
from collections.abc import Callable
from decimal import Decimal

from pyspark.errors.exceptions.base import AnalysisException
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from jetro_spark.jql import ast as A
from jetro_spark.jql.compiler import (
    ALIASES,
    TC,
    Compiler,
    CompileError,
    Env,
    _canon_str,
    _cross_renders,
    _csv_cell,
    _family,
    _key_collide,
    _reorder_struct_probe,
    _skips_numeric_fold,
    comparator_desc,
    eq_comparable,
    field_access,
    is_objrepr,
)
from jetro_spark.jql.parser import parse
from jetro_spark.localrel import (
    WarmValue,
    compile_value,
    compile_warm,
    fresh_execute,
    local_doc_frame,
    plan_size_estimate,
)
from jetro_spark.operators import relational as R

# ------------------------------------------------------------ doc ingest


# Atom shapes are their kinds (Int→Long, Float→Double, value.rs:27-29);
# they hold ids 0-4 of every Shapes table.
_ATOMS = (T.NullType(), T.BooleanType(), T.LongType(), T.DoubleType(),
          T.StringType())
_NULL = 0
_ATOM_IDS = {type(None): 0, bool: 1, int: 2, float: 3, str: 4}


class Shapes:
    """Interned JSON value shapes, each mapped once to its Spark type.

    An object's shape is its ordered ``(key, shape)`` pairs; an array's
    is its distinct non-null element shapes in first-seen order plus
    whether some element is null. Equal shapes share one id, so a
    uniform array of n objects is one shape (the reference's ``ObjVec``:
    one key set for a whole object array, value.rs:52-84) and its
    struct type is built once, however large n is."""

    def __init__(self):
        self._ids: dict[tuple, int] = {}
        self._shapes: list[tuple | None] = [None] * len(_ATOMS)
        self._types: dict[int, T.DataType] = dict(enumerate(_ATOMS))

    @property
    def built(self) -> int:
        """How many non-atom Spark types this table has built."""
        return len(self._types) - len(_ATOMS)

    def shape(self, v) -> int:
        """The shape id of a JSON value (dict/list/tuple/str/int/float/
        bool/None); anything else raises TypeError."""
        sid = _ATOM_IDS.get(type(v))
        if sid is not None:
            return sid
        if isinstance(v, dict):
            key = ("o", tuple([(k, self.shape(x)) for k, x in v.items()]))
        elif isinstance(v, (list, tuple)):
            elems = dict.fromkeys(map(self.shape, v))
            key = ("a", tuple(e for e in elems if e != _NULL),
                   _NULL in elems)
        else:  # a subclassed scalar (an IntEnum, a str subclass)
            for kind, sid in _ATOM_IDS.items():
                if isinstance(v, kind):
                    return sid
            raise TypeError(f"cannot infer schema for {type(v).__name__}")
        sid = self._ids.get(key)
        if sid is None:
            sid = self._ids[key] = len(self._shapes)
            self._shapes.append(key)
        return sid

    def dtype(self, sid: int) -> T.DataType:
        """The Spark type of shape ``sid``, built on first request."""
        dt = self._types.get(sid)
        if dt is None:
            dt = self._types[sid] = self._build(self._shapes[sid])
        return dt

    def _build(self, shape: tuple) -> T.DataType:
        if shape[0] == "o":
            return T.StructType([T.StructField(k, self.dtype(s), s == _NULL)
                                 for k, s in shape[1]])
        _, elems, has_null = shape
        dts = [self.dtype(s) for s in elems]
        if dts and not has_null and all(isinstance(d, T.StructType)
                                        for d in dts):
            return T.ArrayType(_merge_structs(dts, exact=True), False)
        u = _merge(dts)
        if isinstance(u, T.VariantType):
            # heterogeneous elements ([1, "x", true]) — variant keeps
            # each element's dynamic kind (mirrors the reference's Val)
            return T.ArrayType(u)
        return T.ArrayType(u, has_null)


def infer_schema(v) -> T.DataType:
    """Insertion-order-preserving schema inference (vs read.json's
    alphabetical sort), one Spark type per distinct shape (``Shapes``).

    Nullability is EXACT for the one literal document: an object's
    field, or a field of an array whose elements are all objects, is
    nullable only where its value is null or missing in some element,
    and an array has containsNull only where a null element exists.
    Other unions of differing shapes (under a null element, or one
    array level down) make every field and element nullable, as
    compiler.unify does. Elements whose shapes conflict (1 vs "x", at
    any depth) widen to variant at the level of the conflict. The
    exact claims let the compiler skip impossible-null scaffolding (the
    string-unique null/"null" collision fixup, null probes). JetroDocs
    sampling may use them too: from_json forces its output schema
    nullable, and the handle reads self.schema back from the parsed
    column, so unsampled documents cannot violate a tight flag."""
    shapes = Shapes()
    return shapes.dtype(shapes.shape(v))


def _merge(dts: list[T.DataType]) -> T.DataType:
    """compiler.unify for ingest: a conflict widens to variant, at
    whatever depth it occurs, where unify returns None (and its array
    and struct cases type the conflicting elements void or last-wins)."""
    non_null = [d for d in dts if not isinstance(d, T.NullType)]
    if not non_null:
        return T.NullType()
    first = non_null[0]
    if all(d == first for d in non_null):
        return first
    if all(isinstance(d, (T.LongType, T.DoubleType)) for d in non_null):
        return T.DoubleType()  # not all equal, so some are double
    if all(isinstance(d, T.StructType) for d in non_null):
        return _merge_structs(non_null, exact=False)
    if all(isinstance(d, T.ArrayType) for d in non_null):
        return T.ArrayType(_merge([d.elementType for d in non_null]))
    return T.VariantType()


def _merge_structs(sts: list[T.StructType], exact: bool) -> T.StructType:
    """Field-by-name union of struct types, first-seen order. With
    ``exact`` (an array whose elements are all objects) a field is
    nullable only when it is MISSING in some element (the null pad) or
    null somewhere it appears; otherwise every field is nullable, as
    compiler.union_struct makes it."""
    fields: dict[str, list[T.StructField]] = {}
    for st in sts:
        for f in st.fields:
            fields.setdefault(f.name, []).append(f)
    return T.StructType([
        T.StructField(name, _merge([f.dataType for f in fs]),
                      not exact or len(fs) < len(sts)
                      or any(f.nullable for f in fs))
        for name, fs in fields.items()])


def to_python(v):
    """Row/array output → plain JSON-able Python (ordered dicts).

    The ordered-object representation (list of {key, value} entries —
    group_by, dynamic object literals, dict comprehensions) converts to
    a plain insertion-ordered dict with last-wins on duplicate keys,
    matching jetro's Val::Obj presentation (IndexMap, value.rs:47)."""
    if isinstance(v, T.VariantVal):
        return _variant_numbers(v.toPython())
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


def _variant_numbers(v):
    """A variant's decoded value with every ``Decimal`` (Spark's variant
    stores a JSON number with a fraction or outside the long range as a
    decimal) as jetro's number: a float when it has digits after the
    point, else an int."""
    if isinstance(v, Decimal):
        return float(v) if v.as_tuple().exponent < 0 else int(v)
    if isinstance(v, list):
        return [_variant_numbers(x) for x in v]
    if isinstance(v, dict):
        return {k: _variant_numbers(x) for k, x in v.items()}
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


def _hidden_cols(df: DataFrame) -> list[Column]:
    """The hidden ``__ord`` columns, to carry through a projection."""
    return [F.col(c) for c in df.columns if c.startswith("__ord")]


def _element(df: DataFrame, bare: bool = True) -> TC:
    """The pipeline element as one typed column: with ``bare``, the
    column of a one-column pipeline itself; else the row struct. A
    lambda param bound to the struct (``row=True``) still compiles field
    access to top-level F.col (pushdown-friendly), while VALUE uses of
    the whole param (`x => x > 40`) reach Spark's analyzer and fail
    controlled, exactly like doc mode."""
    vis = _vis_cols(df)
    if bare and len(vis) == 1:
        return TC(F.col(vis[0]), df.schema[vis[0]].dataType)
    return TC(F.struct(*[F.col(c) for c in vis]),
              T.StructType([df.schema[c] for c in vis]), row=True)


def _canon_key(col: Column, dt: T.DataType) -> Column:
    """The reference's canonical key string (val_to_key, util.rs:216-226):
    a Null key renders "null"."""
    return F.coalesce(_canon_str(col, dt), F.lit("null"))


def _canon_cols(df: DataFrame, *names: str) -> DataFrame:
    for n in names:
        df = df.withColumn(n, _canon_key(F.col(n), df.schema[n].dataType))
    return df


def _first_per_key(df: DataFrame, keys: list[Column],
                   order: list) -> DataFrame:
    """Each key's FIRST row in pipeline order, re-sorted by it (the
    dedup window's shuffle destroys the physical order)."""
    w = Window.partitionBy(*keys).orderBy(*_order_by(order))
    return (df.withColumn("__uq_rn", F.row_number().over(w))
            .filter(F.col("__uq_rn") == 1).drop("__uq_rn")
            .orderBy(*_order_by(order)))


def _window_operand(df: DataFrame) -> tuple[str, Column]:
    """(name, value) of a positional analytic's single projected column,
    coerced to f64 like ``numeric_options`` (ops/collection.rs:89-105)."""
    data = _vis_cols(df)
    if len(data) != 1:
        raise CompileError(
            "window builtin: expected a single projected column "
            f"(use .map(field) first), got {data}")
    cname = data[0]
    dt = df.schema[cname].dataType
    if isinstance(dt, (T.NumericType, T.NullType)):
        return cname, F.col(cname).cast("double")
    if isinstance(dt, T.VariantType):
        return cname, F.try_variant_get(F.col(cname), "$", "double")
    return cname, F.lit(None).cast("double")


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
    ints = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    flts = (T.FloatType, T.DoubleType)
    for fam in (ints, flts, T.BooleanType,
                T.DateType, T.TimestampType):
        if isinstance(ldt, fam) and isinstance(rdt, fam):
            return {"null_safe": True}
    return {"lkey_col": _canon_key(F.col(lk), ldt),
            "rkey_col": _canon_key(F.col(rk), rdt)}


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


# Compiled plans (and warm handles) one Jetro or JetroDocs handle keeps,
# one per expression string. An entry holds a plan's driver-side objects
# only; the bound caps a long-lived handle fed ever-new expressions.
PLAN_CACHE_MAX = 256


def _remember(cache: dict, key, value) -> None:
    """cache[key] = value, evicting the oldest entry past PLAN_CACHE_MAX."""
    if len(cache) >= PLAN_CACHE_MAX:
        del cache[next(iter(cache))]
    cache[key] = value


@dataclasses.dataclass(eq=False)
class _Plan:
    """A ``Jetro`` handle's cache entry for one expression: the compiled
    frame and the ``WarmValue`` that ``collect`` builds from it on first
    use (False: not built yet; None: not buildable for this plan)."""
    df: DataFrame
    value: WarmValue | None | bool = False


class Jetro:
    """Document-mode handle: ``Jetro.from_bytes(spark, data).collect(expr)``.
    Reference API: jc/lib.rs:354-380 (from_bytes), :477 (collect)."""

    def __init__(self, spark: SparkSession, value):
        wrapped = value if isinstance(value, dict) else {"__root__": value}
        self.schema: T.StructType = infer_schema(wrapped)
        self._wrapped_scalar = not isinstance(value, dict)
        # One document = one row, parsed and folded driver-side into a
        # LocalRelation: Project-shaped queries over it collect with
        # zero Spark jobs (localrel.local_doc_frame)
        self.df = local_doc_frame(spark, wrapped, self.schema)
        self.spark = spark
        # expr -> its compiled plan, or the CompileError it raised
        self._plan_cache: dict[str, _Plan | CompileError] = {}
        self._value_lock = threading.Lock()
        # expr -> WarmQuery | None (None = warm path unavailable, use
        # fresh_execute); False sentinel = not yet compiled
        self._warm_cache: dict[str, object] = {}

    @classmethod
    def from_bytes(cls, spark: SparkSession, data: bytes | str) -> "Jetro":
        if isinstance(data, bytes):
            data = data.decode("utf-8")
        return cls(spark, json.loads(data))

    @classmethod
    def from_value(cls, spark: SparkSession, value) -> "Jetro":
        return cls(spark, value)

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
        expressions are kept; the oldest goes first. ``collect`` does not
        run this frame once its plan has a ``WarmValue``."""
        return self._plan(expr).df

    def _plan(self, expr: str, node: A.Node | None = None) -> _Plan:
        plan = self._plan_cache.get(expr)
        if plan is None:
            try:
                tc = Compiler().compile(parse(expr) if node is None else node,
                                        self._env())
                plan = _Plan(_analyzed_select(self.df, tc.col.alias("value")))
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

        Caches the plan, not the result (a handle's document never
        changes, so the plan stays valid). The first call per expression
        compiles it, as ``frame`` does, and builds the plan's
        ``localrel.WarmValue``: the projection Catalyst's LocalRelation
        fold evaluates. Every call, the first included, evaluates that
        whole projection over the document in the JVM — with no new
        Dataset, optimizer run or physical plan — and converts the row
        with ``to_python``. Where the handle cannot be built (no classic
        JVM surface, a plan that is not a Project over the one-row
        document, a nondeterministic expression, one the fold leaves to
        later optimizer rules) each call runs the frame's ``first()``
        instead, with the same values. ``rec(λ)`` expressions are not
        cached: their fixpoint loop compiles each step against the value
        before it."""
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
        plan = self._plan(expr, node)
        handle = plan.value
        if handle is False:
            # one handle per plan: handles built from one analyzed plan
            # would share its expression objects across their locks
            with self._value_lock:
                if plan.value is False:
                    plan.value = compile_value(plan.df)
                handle = plan.value
        row = plan.df.first() if handle is None else handle.run()
        return to_python(row["value"])

    def _collect_node(self, node: A.Node):
        tc = Compiler().compile(node, self._env())
        df = _analyzed_select(self.df, tc.col.alias("value"))
        return to_python(df.first()["value"])


# ------------------------------------------------------- relational mode


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
            docs = [json.loads(s) for s in rows]
            if not all(isinstance(d, dict) for d in docs):
                raise ValueError("every document must be a JSON object")
            # the sample as one object array: one shape walk, and the
            # exact field union of its distinct document shapes
            schema = infer_schema(docs).elementType
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
            _remember(self._plan_cache, expr, col)
        return col

    def frame(self, expr: str) -> DataFrame:
        """One row per document, single column ``value``."""
        return self.df.select(self._compile(expr).alias("value"))

    def with_result(self, expr: str, name: str = "value") -> DataFrame:
        """Original rows + the per-document result as a new column."""
        return self.df.withColumn(name, self._compile(expr))


@dataclasses.dataclass(frozen=True)
class Pipe:
    """The pipeline between two stages. Each stage lowering takes the
    incoming Pipe and returns the outgoing one (or None for the doc
    fallback)."""
    df: DataFrame
    # sequence order: list of (Column, desc) sort keys set by a .sort(...)
    # stage and threaded through order-preserving stages so positional
    # analytics (lag/rolling/... §2.6) can window on it
    order: list | None = None
    # the element is a bare scalar (after `map(v)`), not an object row —
    # a single-column DataFrame is ambiguous (`map({v: v})` also has one
    # column), so the projection that produced it says which
    scalar: bool = False
    # the PHYSICAL row order still is the document order (root scan +
    # order-preserving stages) — the precondition for the scan-order
    # surrogate _maybe_scan_order hands to order-dependent stages
    scan_ok: bool = True

    def then(self, df: DataFrame, order: list | None = None,
             scalar: bool | None = None) -> "Pipe":
        """The pipe a stage emits as ``df``: the order is dropped unless
        the stage names it, the element shape kept unless it names one.
        A bare element is one column, so a stage that emits more
        (enumerate's ``{index, value}``, a keyed reducer's rows) emits
        objects."""
        if scalar is None:
            scalar = self.scalar and len(_vis_cols(df)) == 1
        return Pipe(df, order, scalar, self.scan_ok)


@dataclasses.dataclass
class Query:
    """What one query shares with every scope nested in it (let bodies,
    table arguments, comprehensions)."""
    # a set-op union stage emitted a plan Union: positional sinks then
    # avoid GlobalLimit above it (Spark 4.1 AQE drop — see
    # _ordered_prefix / SCALE.md)
    has_union: bool = False
    # makes hidden column names unique within the plan
    seq: int = 0

    def fresh(self) -> int:
        self.seq += 1
        return self.seq


@dataclasses.dataclass(frozen=True)
class Tail:
    """The query a stage is lowered in and its order-demand lookahead."""
    q: Query
    # some later stage reads the pipeline order (or the caller demands it)
    reads_order: bool
    # some stage follows
    more: bool


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
        # an untrusted table start with scan_ok off, so order-hungry
        # stages take the warned fallback instead of silently numbering
        # shuffle-arbitrary rows with the scan surrogate.
        self._tables_ordered: dict[str, bool] = ordered or {}

    # row-scope env: bare idents resolve to F.col via TC(row=True) and
    # `@` is the pipeline element (see _element); let-bound scalars
    # shadow nothing (row fields win — locals are consulted by the
    # compiler before row scope, so seed them last)
    def _row_env(self, df: DataFrame, scalar: bool = False) -> Env:
        # a scalar pipeline's element is a bare value, not a row: a bare
        # name is a field access on it, null as in document mode
        schema = T.StructType([]) if scalar else df.schema
        return Env(root=None, current=TC(None, schema, row=True),
                   locals=dict(self._scalars),
                   at=functools.partial(_element, df, scalar))

    def _row_tc(self, df: DataFrame) -> TC:
        return TC(None, df.schema, row=True)

    def query(self, expr: str) -> DataFrame:
        node = parse(expr)
        try:
            return self.compile_node(node)[0]
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

    def compile_node(self, node: A.Node, demand_order: bool = False,
                     q: Query | None = None) -> tuple[DataFrame, bool]:
        """Compile ``node`` to ``(frame, ordered)``: ``ordered`` is its
        order trust — whether the frame's PHYSICAL row order is its
        document order, which a let binding or table argument over it
        relies on. ``q`` is the enclosing query (a new one when None)."""
        q = q or Query()
        if isinstance(node, A.Comp) and node.kind in ("list", "gen", "set"):
            out = self._comp(node, want_order=demand_order)
            if out is not None:
                # order trust requires BOTH a reason the output is in
                # doc order (demanded materialization, or the single-gen
                # scan carry) AND trusted generator sources — _comp
                # ignores the demand over untrusted sources (r11)
                return out[0], ((demand_order or self._comp_ordered(node))
                                and self._comp_trusted(node))
        # method chain on a comprehension root: `[...].first()` lowered
        # the comp, then errored "requires a table-rooted pipeline" —
        # a one-sided error vs doc mode (r10). Run the remaining steps
        # as a pipeline over the comp output; positional stages only
        # get the scan surrogate when the comp preserves order.
        if isinstance(node, A.Path) and isinstance(node.base, A.Comp) \
                and node.base.kind in ("list", "gen", "set"):
            want = demand_order or any(not _order_blind(s)
                                       for s in node.steps)
            out = self._comp(node.base, want_order=want)
            if out is not None:
                scan_ok = ((want or self._comp_ordered(node.base))
                           and self._comp_trusted(node.base))
                return self._pipeline(Pipe(out[0], None, out[1], scan_ok),
                                      node.steps, q, demand_order)
        out = self._resolve_table(node, q, demand_order)
        if out is not None:
            return out
        if isinstance(node, A.Let):
            return self._let(node, q, demand_order)
        raise CompileError("relational mode requires a table-rooted pipeline "
                           f"($.<table>...); tables: {sorted(self.tables)}")

    def _source(self, node: A.Node) -> tuple[str, list[A.Node]] | None:
        """``(table, remaining steps)`` when ``node`` reads a table:
        `$.t…`, a let-bound sub-plan `t…`, or a bare `t`."""
        if isinstance(node, A.Ident):
            return (node.name, []) if node.name in self.tables else None
        if not isinstance(node, A.Path):
            return None
        if isinstance(node.base, A.Root) and node.steps \
                and isinstance(node.steps[0], A.Field) \
                and node.steps[0].name in self.tables:
            return node.steps[0].name, node.steps[1:]
        if isinstance(node.base, A.Ident) and node.base.name in self.tables:
            return node.base.name, node.steps
        return None

    def _resolve_table(self, node: A.Node, q: Query,
                       demand_order: bool = False
                       ) -> tuple[DataFrame, bool] | None:
        """A table-rooted pipeline (see _source) → ``(frame, ordered)``;
        None for any other node. Table arguments (`equi_join($.u, …)`,
        `union(d)` over a let-bound `d`, r10) come through here too."""
        src = self._source(node)
        if src is None:
            return None
        nm, steps = src
        p = Pipe(self.tables[nm], scan_ok=self._tables_ordered.get(nm, True))
        return self._pipeline(p, steps, q, demand_order)

    # --------------------------------------------------- comprehensions

    def _let(self, n: A.Let, q: Query,
             demand_order: bool) -> tuple[DataFrame, bool]:
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
        binding-exit demand should have materialized the order.

        The body compiles in a child scope of the same query ``q``, so
        what the binding's plan holds (a Union) still shapes the body's
        positional sinks."""
        try:
            # demand_order: a binding's consumer is unknown — compile
            # as if an order-reading stage followed, so keyed reducers
            # / joins materialize their doc order instead of skipping
            # the restore under the order-blind-tail optimization (r10:
            # `let a = $.s.sort(-v).group_by(g) in a.first()` silently
            # returned the physically-first group)
            bound, trust = self.compile_node(n.value, True, q)
        except CompileError:
            bound = None
        if bound is not None:
            # body pipelines over an untrusted binding (its PHYSICAL
            # order is not its doc order) must not mint the scan-order
            # surrogate (r10 — `let a = $.s.group_by(g) in a.last()`
            # silently returned a shuffle-arbitrary row)
            child = JetroTables(self.spark, {**self.tables, n.name: bound},
                                scalars=self._scalars,
                                ordered={**self._tables_ordered,
                                         n.name: trust})
        else:
            scalar = self.c.compile(n.value, Env(locals=dict(self._scalars)))
            child = JetroTables(self.spark, self.tables,
                                scalars={**self._scalars, n.name: scalar},
                                ordered=self._tables_ordered)
        return child.compile_node(n.body, demand_order, q)

    def _table_of(self, src: A.Node) -> str | None:
        """The table a comprehension generator reads whole (`$.t`, a
        let-bound `t`, r10), else None."""
        s = self._source(src)
        return s[0] if s is not None and not s[1] else None

    def _comp(self, n: A.Comp, want_order: bool = False
              ) -> tuple[DataFrame, bool] | None:
        """[v for x in $.t if p] → t.filter(p).select(v) — one scan, no
        collect (comprehension AST ast.rs:69-114).

        Multi-generator (INDEPTH.md:260-279) lowers to real joins: each
        var becomes a struct column; a table source appends a crossJoin
        (Catalyst rewrites the `if` equality predicate into an inner
        equi-join — broadcast or shuffled hash, its choice); a source
        rooted at an earlier var (`for li in o.items`) becomes an
        explode. No driver-side product is ever built. Returns the
        frame and whether its element is a bare scalar."""
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
                  want_order: bool) -> tuple[DataFrame, bool]:
        """Set-comprehension projection: doc sets are insertion-ordered
        (IndexSet) — with ``want_order`` the dedup keeps each value's
        FIRST occurrence position and sorts by it (precondition: df's
        physical order is the comp's doc order — the single-gen scan,
        or _comp_multi's post-sort); otherwise a plain distinct (the
        multiset contract owes no order on a final result)."""
        if not want_order:
            out, scalar = self._select_body(df, value, env)
            return out.distinct(), scalar
        d2 = df.withColumn("__ord_cm", F.monotonically_increasing_id())
        tc = self.c.compile(value, env)
        scalar = not isinstance(tc.dtype, T.StructType)
        if not scalar:
            proj = d2.select(tc.col.alias("__s"), "__ord_cm") \
                     .select("__s.*", "__ord_cm")
        else:
            proj = d2.select(tc.col.alias(self._scalar_name(value)),
                             "__ord_cm")
        cols = [c2 for c2 in proj.columns if c2 != "__ord_cm"]
        return (proj.groupBy(*cols)
                .agg(F.min("__ord_cm").alias("__ord_cm"))
                .orderBy("__ord_cm").drop("__ord_cm")), scalar

    def _comp_multi(self, n: A.Comp,
                    gens: list[tuple[list[str], A.Node]],
                    want_order: bool = False
                    ) -> tuple[DataFrame, bool] | None:
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

    def _select_body(self, df: DataFrame, body: A.Node,
                     env: Env) -> tuple[DataFrame, bool]:
        """``df`` projected to ``body``, and whether that is a bare
        scalar."""
        tc = self.c.compile(body, env)
        if isinstance(tc.dtype, T.StructType):
            # object-shaped map → one column per field (CollapseProject
            # folds the star-expansion into a single Project)
            return df.select(tc.col.alias("__s")).select("__s.*"), False
        return df.select(tc.col.alias(self._scalar_name(body))), True

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

    def _pipeline(self, p: Pipe, steps: list[A.Node], q: Query,
                  demand_order: bool) -> tuple[DataFrame, bool]:
        """Lower ``steps`` stage by stage from ``p``; return the frame
        and its order trust (see compile_node).

        ``demand_order`` (r10): compile as if an order-reading stage
        followed the last step — a LET BINDING's consumer is unknown at
        binding time, so order-restoring stages (keyed reducers, joins,
        ordered union) must materialize their doc order instead of
        skipping the restore under the order-blind-tail optimization."""
        for i, step in enumerate(steps):
            # order-demand lookahead: the relational contract owes no
            # order on the FINAL result (multiset compare), so an
            # order-preserving join only pays its receiver-order sort
            # when some REMAINING stage actually reads order
            # (positional, window, tie-sensitive, or unknown)
            tail = Tail(q, demand_order or any(not _order_blind(s)
                                               for s in steps[i + 1:]),
                        demand_order or i + 1 < len(steps))
            out = self._stage(p, step, tail)
            if out is None:
                # the single-task fallback emits results in document
                # order → trustworthy as a table arg
                return self._doc_fallback(p.df, steps[i:], p.order,
                                          scalar=p.scalar), True
            if out.order is None and not _keeps_scan_order(step):
                # a reordering stage ran with no carried order: the
                # physical order is now shuffle-arbitrary, so the
                # scan-order surrogate is off the table downstream
                out = dataclasses.replace(out, scan_ok=False)
            p = out
        # physical row order is the document order iff an order is
        # carried (carried ⇒ physically materialized, see _keyed_input)
        # or the scan-order surrogate is still valid
        hidden = [c for c in p.df.columns if c.startswith("__ord")]
        return (p.df.drop(*hidden) if hidden else p.df,
                p.order is not None or p.scan_ok)

    def _stage(self, p: Pipe, step: A.Node, tail: Tail) -> Pipe | None:
        env = self._row_env(p.df, p.scalar)
        if isinstance(step, A.InlineFilter):
            return p.then(p.df.filter(self.c.compile_cond(step.pred, env)),
                          p.order)
        if isinstance(step, A.MapShape):
            df = p.df
            if step.pred is not None:
                df = df.filter(self.c.compile_cond(step.pred, env))
                env = self._row_env(df, p.scalar)
            return self._select_carry(p.then(df, p.order), step.shape, env)
        if isinstance(step, A.Index):
            try:
                i = _lit_int(step.expr)
            except CompileError:
                return None
            return self._at(p, tail.q, i)
        if isinstance(step, A.Slice):
            a = step.start or 0
            if a < 0 or (step.stop is not None and step.stop < a):
                return None
            return self._positional(
                p, tail.q, None if step.stop is None else step.stop - a, a)
        if isinstance(step, A.Quantifier):
            return p  # `?` null-safe is free; `!` asserted at action time
        stage = _stage_entry(step)
        if stage is None:
            return None
        if stage.hungry:
            p = self._maybe_scan_order(p, tail.q)
        return stage.lower(self, p, step.args, env, tail)

    def _maybe_scan_order(self, p: Pipe, q: Query) -> Pipe:
        """Hand an order-dependent stage the SCAN-ORDER surrogate when
        no order is carried but the physical row order still is the
        document order (r8): a partition-prefixed monotonic id sorts to
        exactly the sequence the doc fallback would have collected in —
        so `$.t.take_while(...)`, `.reverse()`, `.pairwise()` etc. on an
        unsorted table lower instead of collapsing to one task. Unique
        hidden name per use (Column refs resolve by name)."""
        if p.order is not None or not p.scan_ok:
            return p
        sid = f"__ord_sc{q.fresh()}"
        return p.then(p.df.withColumn(sid, F.monotonically_increasing_id()),
                      [(F.col(sid), False)])

    def _ordered_prefix(self, df: DataFrame, order: list, q: Query,
                        n: int | None, offset: int = 0) -> DataFrame:
        """``offset``/``limit`` as a row_number window filter — NO
        GlobalLimit node. Used for positional sinks when the query
        contains a Union (``Query.has_union``): Spark 4.1's AQE
        re-optimization can DROP a Sort+GlobalLimit directly above a
        Union after one branch materializes empty (the r12 soak catch;
        minimal engine repro pinned in
        test_regressions.test_minby_padding_aqe_union_limit, upstream
        exposure documented in SCALE.md). The window's single-partition
        sort costs more than TakeOrdered's top-n heap, so it is gated
        to union-carrying pipelines only — everywhere else the plain
        limit (and its whole-stage-codegen TakeOrderedAndProject) is
        kept."""
        w = Window.orderBy(*_order_by(order))
        rn = f"__pfx{q.fresh()}"
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

    def _select_carry(self, p: Pipe, body: A.Node, env: Env) -> Pipe:
        """_select_body, but when a sort order is live the sort keys ride
        along as hidden ``__ord{i}`` columns (stripped at pipeline end) so
        a later window builtin can still order by them after the
        projection dropped the original key columns. Body fields and
        keys come from ONE projection of the input frame: every chained
        select/drop/rename is an eager JVM analysis."""
        if not p.order:
            df, scalar = self._select_body(p.df, body, env)
            return p.then(df, scalar=scalar)
        # the CALLER's env: rebuilding it dropped any lambda-param binding
        # (`map(x => ...)` under a live sort compiled x.* to the
        # missing-field null — r8 fuzz catch)
        tc = self.c.compile(body, env)
        scalar = not isinstance(tc.dtype, T.StructType)
        if not scalar:
            cols = [tc.col.getField(f.name).alias(f.name)
                    for f in tc.dtype.fields]
        else:
            cols = [tc.col.alias(self._scalar_name(body))]
        df, order = self._rematerialize_order(p.df, p.order, cols)
        return p.then(df, order, scalar)

    # ------------------------------------------------- stage arguments

    def _lam(self, node: A.Node, p: Pipe, env: Env):
        """(body, env) to compile a stage argument in. A one-param
        lambda binds its param to the element, as in doc mode: the BARE
        column of a scalar pipeline (after map(v), `x => x * 2` sees the
        element), else the row struct (see _element)."""
        if isinstance(node, A.Lambda):
            return node.body, env.bind(node.params[0],
                                       _element(p.df, p.scalar))
        return node, env

    def _pred(self, node: A.Node, p: Pipe, env: Env) -> Column:
        # condition context: bare comparisons push down to parquet and
        # keep join keys extractable (see Compiler.compile_cond)
        return self.c.compile_cond(*self._lam(node, p, env))

    def _key(self, node: A.Node, p: Pipe, env: Env) -> tuple[TC, bool]:
        """A key argument and whether it sorts descending. A direct
        `-key` is the documented DESCENDING syntax (purely syntactic —
        works on any key type); a LAMBDA body is evaluated per element,
        so `x => -x.v` really negates (r9 soak catch — stripping that
        Neg desc-sorted non-numeric keys doc mode type-errors on)."""
        desc = isinstance(node, A.Neg)
        if desc:
            node = node.expr
        return self.c.compile(*self._lam(node, p, env)), desc

    def _key_str(self, node: A.Node, p: Pipe, env: Env) -> Column:
        """Keyed-reducer key → the reference's canonical key STRING
        (val_to_key): integral doubles render without the trailing .0 —
        matches the doc-mode _key_lam wrapping."""
        tc, _desc = self._key(node, p, env)
        return _canon_key(tc.col, tc.dtype)

    # -------------------------------------------- shared stage shapes

    def _positional(self, p: Pipe, q: Query, n: int | None,
                    offset: int | None = None, *, pad: bool = False,
                    from_end: bool = False,
                    guard: bool = True) -> Pipe | None:
        """Rows ``[offset, offset + n)`` of the pipeline order (``n``
        None: to the end), counted from the back when ``from_end``.
        ``pad``: the scalar form — one element, the reference's Null
        (first_apply/last_apply n == 1, get_index out of bounds) when
        there is none, as one all-null row (_pad_single_null).

        The plain shape is ``offset``/``limit``, over an inverted sort
        from the back. A Union in the query (``q.has_union``) takes the
        row_number window filter instead (see _ordered_prefix). The
        physical prefix is the document prefix only while an order is
        carried or the scan order still holds (r10): with ``guard``,
        anything else is None — the warned doc fallback."""
        if guard and p.order is None and not p.scan_ok:
            return None
        s = p
        if from_end:
            s = p.then(p.df, [(c, not d) for c, d in p.order])
        if q.has_union:
            s = self._maybe_scan_order(s, q)
        df, order = s.df, s.order
        if q.has_union and order is not None:
            out = self._ordered_prefix(df, order, q, n, offset or 0)
        else:
            if from_end:
                df = df.orderBy(*_order_by(order))
            if offset is not None:
                df = df.offset(offset)
            out = df if n is None else df.limit(n)
        return p.then(self._pad_single_null(out) if pad else out, p.order)

    def _at(self, p: Pipe, q: Query, i: int) -> Pipe | None:
        """Element ``i`` of the pipeline order (``[i]``, ``nth``);
        negative counts from the back, off the scan-order surrogate when
        unsorted (r8). Out of bounds is Null (value.rs get_index)."""
        if i >= 0:
            return self._positional(p, q, 1, i, pad=True)
        p = self._maybe_scan_order(p, q)
        if p.order is None:
            return None
        return self._positional(p, q, 1, -i - 1, pad=True, from_end=True)

    @staticmethod
    def _reorder(p: Pipe, out: DataFrame, order: list | None) -> Pipe:
        """Carry ``order`` and re-sort by it: the stage's shuffle
        destroyed the physical pipeline order position sinks rely on."""
        return p.then(out if order is None
                      else out.orderBy(*_order_by(order)), order)

    @staticmethod
    def _keyed_input(df: DataFrame, tail: Tail, tag: str | None = None):
        """``(df, go, eo)`` for an ordered keyed collect: ``df`` tagged
        with a fresh doc-order surrogate ``go`` — valid because the
        stage's input order was vetted (carried ⇒ physically
        materialized, else the scan surrogate was minted), so physical
        row order IS pipeline order and a partition-prefixed monotonic
        id captures it. ``eo`` names the emitted first-seen key order
        column when a later stage reads order (doc keyed results are
        insertion-ordered IndexMaps; r10), else None — see
        _emit_sorted."""
        n = tail.q.fresh()
        go = f"__ord_go{n}"
        eo = f"__ord_{tag}{n}" if tag and tail.reads_order else None
        return df.withColumn(go, F.monotonically_increasing_id()), go, eo

    @staticmethod
    def _emit_sorted(p: Pipe, out: DataFrame, eo: str | None) -> Pipe:
        if eo is None:
            return p.then(out)
        return p.then(out.orderBy(F.col(eo).asc()), [(F.col(eo), False)])

    # ------------------------------------------------ stage lowerings
    # Each lowers one builtin: (pipe, args, env, tail) → the outgoing
    # pipe, or None for the doc fallback. STAGES (end of module) maps
    # builtin names to them with their order traits.

    def _filter(self, p, args, env, tail):
        return p.then(p.df.filter(self._pred(args[0].value, p, env)),
                      p.order)

    def _map(self, p, args, env, tail):
        return self._select_carry(p, *self._lam(args[0].value, p, env))

    def _sort(self, p, args, env, tail):
        df, order = p.df, p.order
        if not args:
            keys = [(F.col(x), False) for x in _vis_cols(df)]
        elif (len(args) == 1 and isinstance(args[0].value, A.Lambda)
              and len(args[0].value.params) == 2):
            # comparator form: the two canonical `(a, b) => a < b`
            # shapes lower to a natural sort over the element (struct
            # ordering = field-order lexicographic, same as doc mode's
            # whole-element compare); see _sort_args
            keys = [(_element(df, p.scalar).col,
                     comparator_desc(args[0].value))]
        else:
            keys = [(tc.col, desc) for tc, desc in
                    (self._key(a.value, p, env) for a in args)]
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
            scan = self._maybe_scan_order(p, tail.q)
            if scan.order is None:
                return None
            df, keys = scan.df, keys + list(scan.order)
        return p.then(df.orderBy(*_order_by(keys)), keys)

    def _take(self, p, args, env, tail):
        return self._positional(p, tail.q, _lit_int(args[0].value))

    def _skip(self, p, args, env, tail):
        return self._positional(p, tail.q, None, _lit_int(args[0].value))

    def _first(self, p, args, env, tail):
        # n == 1 is the scalar form (collection.rs first_apply unwraps
        # to the element, Null when empty)
        k = _opt_int(args, 1)
        return self._positional(p, tail.q, k, pad=k == 1)

    def _last(self, p, args, env, tail):
        # reverse-sort + limit (logical stage Last, jc/ir/logical.rs:
        # 16-57): needs the pipeline's order; unordered → doc fallback
        k = _opt_int(args, 1)
        if p.order is None or k < 0:
            return None
        out = self._positional(p, tail.q, k, pad=k == 1, from_end=True)
        # last(n>=2) keeps the ORIGINAL pipeline order (doc mode
        # slices the tail; the inverted pick alone emitted the rows
        # reversed — r11 probe catch): re-sort the n survivors
        return out if k == 1 else self._reorder(p, out.df, p.order)

    def _nth(self, p, args, env, tail):
        return self._at(p, tail.q, _lit_int(args[0].value))

    def _enumerate(self, p, args, env, tail):
        # → rows of {index, value} over the pipeline order
        # (ops/collection.rs:409). Dense global indexing is an
        # inherently single-sequence operation (same class as
        # take_while's running sum); unordered tables fall back.
        if p.order is None:
            return None
        df = p.df
        w = Window.orderBy(*_order_by(p.order))
        # scalar pipelines keep the bare element as `value` (doc-mode
        # semantics: value IS the element); only object rows wrap
        out = df.select(
            (F.row_number().over(w) - 1).cast("long").alias("index"),
            _element(df).col.alias("value"), *_hidden_cols(df))
        return p.then(out, [(F.col("index"), False)])

    def _chunk(self, p, args, env, tail):
        # groups of n consecutive rows → one row per chunk holding
        # the group as an array (ops/collection.rs chunk). The
        # per-chunk collect_list is bounded by the user's n — unlike
        # group_collect there is no unbounded-group OOM surface.
        if p.order is None or not args:
            return None
        n = _lit_int(args[0].value)
        if n <= 0:
            raise CompileError("chunk size must be positive")
        w = Window.orderBy(*_order_by(p.order))
        elem = _element(p.df)
        rn = F.row_number().over(w) - 1
        d2 = p.df.select((F.floor(rn / F.lit(n))).alias("__chunk"),
                         rn.alias("__rn"), elem.col.alias("__e"))
        out = (d2.groupBy(F.col("__chunk").alias("__ord0"))
               .agg(F.transform(
                   R.sort_by_field(
                       F.collect_list(F.struct("__rn", "__e")), "__rn",
                       payload_dt=elem.dtype),
                   lambda s: s["__e"]).alias("value"))
               .select("value", "__ord0")
               .orderBy("__ord0"))
        # carries the chunk sequence order
        return p.then(out, [(F.col("__ord0"), False)], scalar=True)

    def _pairwise(self, p, args, env, tail):
        # overlapping [prev, cur] pairs over the pipeline order
        # (ops/collection.rs:556): lag window, first row dropped.
        # Order keys ride along as __ord columns (the _select_carry
        # convention) since the projection replaces the data columns.
        if p.order is None:
            return None
        df, order = self._rematerialize_order(p.df, p.order)
        w = Window.orderBy(*_order_by(order))
        extras = [F.col(f"__ord{i}") for i in range(len(order))]
        cur = _element(df).col
        out = (df.select(F.lag(cur).over(w).alias("__prev"),
                         cur.alias("__cur"), *extras)
               .filter(F.col("__prev").isNotNull())
               .select(F.array("__prev", "__cur").alias("value"), *extras))
        return p.then(out, order, scalar=True)

    def _reverse(self, p, args, env, tail):
        if p.order is None:
            return None
        return self._reorder(p, p.df, [(c2, not d) for c2, d in p.order])

    def _while(self, p, args, env, tail, *, take: bool):
        # longest truthy prefix over the pipeline order: cumulative
        # failure count (window min over !pred per the logical stages
        # TakeWhile/DropWhile, jc/ir/logical.rs:16-57). The
        # un-partitioned running sum is single-sequence by semantics.
        if p.order is None:
            return None
        w = (Window.orderBy(*_order_by(p.order))
             .rowsBetween(Window.unboundedPreceding, 0))
        ok = self._pred(args[0].value, p, env)
        fail = F.when(F.coalesce(ok, F.lit(False)), F.lit(0)).otherwise(F.lit(1))
        cum = F.sum(fail).over(w)
        keep = cum == 0 if take else cum >= 1
        return p.then(p.df.withColumn("__tw", keep)
                      .filter(F.col("__tw")).drop("__tw"), p.order)

    def _flat_map(self, p, args, env, tail):
        body, env2 = self._lam(args[0].value, p, env)
        tc = self.c.compile(body, env2)
        if not isinstance(tc.dtype, T.ArrayType):
            raise CompileError("flat_map body must produce an array")
        el = tc.dtype.elementType
        out = p.df.select(F.explode(tc.col).alias("__e"))
        if isinstance(el, T.StructType):
            return p.then(out.select("__e.*"), scalar=False)
        return p.then(out.select(F.col("__e").alias(self._scalar_name(body))),
                      scalar=True)

    def _unique(self, p, args, env, tail):
        df, order = p.df, p.order
        vis0 = _vis_cols(df)
        if p.scalar and len(vis0) == 1 and isinstance(
                df.schema[vis0[0]].dataType,
                (T.StringType, T.NullType, T.VariantType)):
            # scalar STRING rows key via val_to_key, where a NULL
            # cell renders "null" and merges with the literal
            # string "null" — the first occurrence (null-ness
            # intact) wins (unique_arr_apply, collection.rs:77-86;
            # r13, same collision class as the set ops; variant
            # cells have no native equality at all). Key-based
            # first-seen dedup, the unique_by lowering.
            canon = _canon_key(F.col(vis0[0]), df.schema[vis0[0]].dataType)
            out = (R.unique_by(df, canon) if order is None
                   else _first_per_key(df, [canon], order))
        else:
            out = self._first_seen_dedup(df, order)
        # the dedup restored the pipeline order physically — keep it
        # carried so downstream position stages stay faithful (with
        # the r8 surrogate this also fixes `$.t.unique().first()` on
        # unsorted tables: distinct()'s shuffle order is arbitrary,
        # first-seen order is not)
        return p.then(out, order)

    def _unique_by(self, p, args, env, tail):
        ktc, _desc = self._key(args[0].value, p, env)
        col = ktc.col
        if _family(ktc.dtype) in ("string", "null", "variant"):
            # key values key via val_to_key: null renders "null"
            # and merges with the literal (array.rs:273-292, r13 —
            # matches the doc-mode m_unique_by wrapping)
            col = _canon_key(ktc.col, ktc.dtype)
        # the min_by groupBy shuffles away the physical pipeline
        # order position sinks rely on — restore it (winner rows
        # keep their __ord columns); winner choice itself already
        # follows pipeline order via the doc-order surrogate
        return self._reorder(p, R.unique_by(p.df, col), p.order)

    def _count(self, p, args, env, tail):
        n = F.count(F.lit(1))
        if args:
            n = F.count_if(self._pred(args[0].value, p, env))
        return p.then(p.df.agg(n.alias("value")), scalar=True)

    def _len(self, p, args, env, tail):
        return p.then(p.df.agg(F.count(F.lit(1)).alias("value")),
                      scalar=True)

    def _numeric(self, p, args, env, tail, *, agg, empty_zero: bool):
        """sum/avg/min/max; ``empty_zero``: no number observed is 0.0
        (sum), else Null."""
        df = p.df
        objects = not args and not p.scalar
        col = cdt = None
        if args:
            vt = self.c.compile(args[0].value, env)
            col, cdt = vt.col, vt.dtype
        else:
            vis = _vis_cols(df)
            if not objects:
                col, cdt = F.col(vis[0]), df.schema[vis[0]].dataType
        # a no-arg reducer over OBJECT rows: the element is a document,
        # which num_fold SKIPS (r8 unsorted fuzz catch: the old code
        # summed whatever column happened to be first); likewise every
        # element of a type the reference's numeric reducers do not
        # observe (num_fold skips non-Int/Float) — never a cast error
        if objects or _skips_numeric_fold(cdt):
            base = F.first(F.lit(None).cast("double"))
            none = F.coalesce(base, F.lit(0.0)) if empty_zero else base
            return p.then(df.limit(0).agg(none.alias("value")), scalar=True)
        return p.then(df.agg(agg(col).alias("value")), scalar=True)

    def _quantify(self, p, args, env, tail, *, agg, empty: bool):
        ok = self._pred(args[0].value, p, env)
        return p.then(p.df.agg(F.coalesce(agg(ok), F.lit(empty))
                               .alias("value")), scalar=True)

    def _approx_count_distinct(self, p, args, env, tail):
        col = (self.c.compile(args[0].value, env).col if args
               else F.struct(*p.df.columns))
        return p.then(p.df.agg(F.approx_count_distinct(col).alias("value")),
                      scalar=True)

    def _extreme_by(self, p, args, env, tail, *, desc: bool):
        # empty pipeline → scalar Null (extreme_by_apply), padded
        # as one all-null row like first/last/nth (r7 soak catch)
        df, order = p.df, p.order
        col = self._key(args[0].value, p, env)[0].col
        # strict-improvement fold semantics (array.rs:341-375):
        # null keys compare Equal (cmp_vals, util.rs:133) so they
        # never IMPROVE — nulls sort LAST here, winning only when
        # every key is null — but a null-keyed FIRST element can
        # never be beaten either: it wins outright (r11 probe
        # catch; the old asc()/desc() crowned null keys on the
        # nulls-first end). Ties keep the FIRST element in
        # pipeline order — the carried order (or scan surrogate)
        # is the secondary key.
        o = col.desc_nulls_last() if desc else col.asc_nulls_last()
        if not order:
            # same scan_ok gate as the order-hungry stages: after
            # an order-destroying stage the monotonic-id surrogate
            # numbers shuffle-arbitrary rows, so a tie here would
            # diverge from doc mode's first-in-pipeline-order winner
            # (r9 advice catch) → warned doc fallback
            scan = self._maybe_scan_order(p, tail.q)
            if scan.order is None:
                return None
            df, order = scan.df, scan.order
        sec = _order_by(order)
        if tail.q.has_union:
            # a Union upstream: the orderBy+limit(1) picks are the
            # Sort+GlobalLimit-above-Union shape Spark 4.1's AQE
            # can drop (see _ordered_prefix) — window-rank instead
            def _pick1(*keys):
                rn = f"__pfx{tail.q.fresh()}"
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
            return p.then(self._pad_single_null(extreme))
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
        return p.then(w.select(*[F.col("__w").getField(c2).alias(c2)
                                 for c2 in fields]))

    def _group_by(self, p, args, env, tail):
        # doc group_by keys an IndexMap: its KEY order (first-seen) is
        # doc-observable when navigation follows (.keys(), field
        # access, positional stages) — restored like implode's group
        # order (r10 soak catch: .group_by(g).keys() collected groups
        # in shuffle-arrival order)
        if p.order is None:
            return None   # order-broken pipeline → warned fallback
        d2, go, eo = self._keyed_input(p.df, tail, "gb")
        return self._emit_sorted(p, R.group_collect(
            d2, self._key_str(args[0].value, p, env), order=go,
            payload_cols=_vis_cols(p.df), emit_order=eo), eo)

    def _count_by(self, p, args, env, tail):
        # first-seen key order is doc-observable downstream, same
        # as group_by (r10); count_by is not order-hungry, so mint
        # the scan surrogate only when a tail actually reads order
        if not tail.reads_order:
            return p.then(R.count_by(p.df,
                                     self._key_str(args[0].value, p, env)))
        p = self._maybe_scan_order(p, tail.q)
        if p.order is None:
            return None   # key order unrecoverable → fallback
        d2, go, eo = self._keyed_input(p.df, tail, "cb")
        return self._emit_sorted(p, R.count_by(
            d2, self._key_str(args[0].value, p, env), order=go,
            emit_order=eo), eo)

    def _index_by(self, p, args, env, tail):
        if p.order is None:
            return None
        d2, go, eo = self._keyed_input(p.df, tail, "ib")
        return self._emit_sorted(p, R.index_by(
            d2, self._key_str(args[0].value, p, env), order=go,
            payload_cols=_vis_cols(p.df), emit_order=eo), eo)

    def _equi_join(self, p, args, env, tail):
        arg = self._resolve_table(args[0].value, tail.q)
        if arg is None:
            return None
        # rt_ok: is the resolved table's physical order its doc order?
        other, rt_ok = arg
        df, order = p.df, p.order
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
        # previously the join went out unordered, scan_ok flipped
        # off, and every order-dependent downstream stage (or a
        # min_by tie) doc-fell-back or silently diverged. Skip the
        # sort when NO remaining stage reads order (lookahead in
        # _pipeline): the relational contract owes no final-result
        # order, and a post-join .map/.filter/.count_by chain must
        # not pay a full sort it never observes (r9 bench catch:
        # jql_equi_join +104% under the last-stage-only hint).
        if order is None and tail.reads_order:
            scan = self._maybe_scan_order(p.then(df), tail.q)
            df, order = scan.df, scan.order
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
                if tail.reads_order:
                    return None
                return self._reorder(
                    p, R.equi_join(df, other, lk, rk, **key_kw), order)
            rid = f"__ord_rt{tail.q.fresh()}"
            other = other.withColumn(rid, F.monotonically_increasing_id())
            out_order = order + [(F.col(rid), False)]
        # restore the pipeline order the join shuffle destroyed so
        # position sinks downstream stay faithful
        return self._reorder(p, R.equi_join(df, other, lk, rk, **key_kw),
                             out_order)

    def _explode(self, p, args, env, tail):
        return p.then(R.explode_field(p.df, _name_str(args[0].value)))

    def _implode(self, p, args, env, tail):
        # implode's OUTPUT ROW ORDER is doc-observable too: groups
        # appear in first-occurrence order, and a downstream
        # positional stage reads it (r9 fuzz catch: implode(v)
        # .first() returned a shuffle-arbitrary group). Restore it
        # via min(doc-order) per group — skipped when the tail is
        # order-blind, like equi_join's receiver-order sort.
        if p.order is None:
            return None
        fld = _name_str(args[0].value)
        d2, go, eo = self._keyed_input(p.df, tail, "imp")
        return self._emit_sorted(p, R.implode(
            d2, fld, group_cols=[c2 for c2 in _vis_cols(p.df) if c2 != fld],
            order=go, emit_order=eo), eo)

    def _pivot(self, p, args, env, tail):
        # pivot keys stringify via val_to_key like every other keyed
        # reducer (pivot_apply keys an IndexMap) — rendered canonically
        # before the relational pivot
        if tail.more and len(args) == 3:
            # the 3-arg grid's nested-object navigation has no
            # row-shaped relational form — collapse to doc mode
            return None
        if p.order is None:
            return None   # last-wins / first-per-cell read order
        d2, go, _eo = self._keyed_input(p.df, tail)
        names = [_name_str(a.value) for a in args]
        # a MISSING field arg is a per-row Null in doc mode (key →
        # "null" bucket, value → null cell) — synthesize a typed
        # null column instead of crashing the driver-side schema
        # lookup (r10 soak catch: .map({k,v}).pivot(g, v) raised
        # PySparkKeyError where doc mode pivoted under "null")
        for nm in set(names):
            if nm not in d2.columns:
                d2 = d2.withColumn(nm, F.lit(None).cast("string"))
        if len(args) == 2:
            kn, vn = names
            if tail.more:
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
                eo = f"__ord_pv{tail.q.fresh()}"
                return self._emit_sorted(p, R.pivot2_rows(
                    _canon_cols(d2, kn), kn, vn, order=go,
                    emit_order=eo), eo)
            return p.then(R.pivot2(_canon_cols(d2, kn), kn, vn, order=go))
        rn2, cn, vn = names
        return p.then(R.pivot3(_canon_cols(d2, rn2, cn), rn2, cn, vn,
                               order=go))

    def _delimited(self, p, args, env, tail, *, sep: str):
        # Relational form of the §2.1 to_csv/to_tsv sink: one formatted
        # line per row (same cell quoting as the doc-mode string
        # builder, helpers.rs:130-169) — the write-ready shape; doc
        # mode's single joined string would be a driver-side cliff at
        # table scale. Use JetroTables.write_csv for a real
        # distributed file sink.
        df = p.df
        line = F.concat_ws(sep, *[
            _csv_cell(F.col(c2), df.schema[c2].dataType, sep)
            for c2 in _vis_cols(df)])
        return p.then(df.select(line.alias("line")), scalar=True)

    def _set_op(self, p, args, env, tail, *, how: str | None):
        """diff_apply/intersect_apply/union_apply semantics
        (collection.rs:594-646): filter the RECEIVER by key membership
        in the other side — the receiver's DUPLICATES and order are
        preserved (subtract()/intersect() were dedup-ing SQL set ops
        AND lost the pipeline order; unionByName() appended everything
        — r7 catches). ``how`` is that filter's join: left_anti (diff)
        or left_semi (intersect); None is union = all of the receiver
        plus the other side's rows whose value is not in the
        receiver."""
        arg = self._resolve_table(args[0].value, tail.q)
        if arg is None:
            return None
        # ordered union appends the other table's rows in the other
        # ARRAY's own order via a monotonic-id tag — valid only when
        # the resolved table's physical order is its doc order
        # (rt_ok, the same r10 gate as equi_join's right side; an
        # order-destroying sub-pipeline arg would tag
        # shuffle-arbitrary rows)
        other, rt_ok = arg
        df, order = p.df, p.order
        vis = _vis_cols(df)
        ovis = _vis_cols(other)
        canon_keys = False
        ldt = rdt = None
        if p.scalar and len(vis) == 1 and len(ovis) == 1:
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
                if how is not None:
                    a4 = (df.withColumn("__set_k",
                                        _canon_key(F.col(vis[0]), ldt))
                          .alias("__set_a"))
                    o4 = (other.select(_canon_key(F.col(ovis[0]), rdt)
                                       .alias("__set_k"))
                          .alias("__set_o"))
                    out = a4.join(
                        o4, F.col("__set_a.__set_k")
                        == F.col("__set_o.__set_k"), how).drop("__set_k")
                    return self._reorder(p, out, order)
                if not canon_keys:
                    return None
            if vis[0] != ovis[0]:
                # scalar column NAMES are incidental projection
                # detail — align them so same-family scalars flow
                # the value-membership path (pre-fix, a name
                # mismatch took the cross-shape arm and kept rows
                # val_to_key says to drop)
                other = other.withColumnRenamed(ovis[0], vis[0])

        def row_t(d: DataFrame) -> T.StructType:
            return T.StructType([T.StructField(c2, d.schema[c2].dataType)
                                 for c2 in vis])

        # cross-shape rows never compare equal (vals_eq), and neither
        # do same-NAMED object rows with a cross-family field TYPE:
        # object rows key by their JSON serialization (val_to_key →
        # val_to_string), where a string field renders QUOTED — never
        # equal to a number field; native equality would ANSI-coerce
        # and crash (the r12 soak catch via the string-keyed join
        # vocab). diff keeps everything, intersect keeps nothing;
        # union would need a mixed-shape row set → doc fallback
        if sorted(vis) != sorted(other.columns) or (
                not p.scalar and vis
                and not eq_comparable(row_t(df), row_t(other))):
            if how is None:
                return None
            return p.then(df if how == "left_anti" else df.limit(0), order)
        cond = None
        for v2 in vis:
            a, o = F.col(f"__set_a.{v2}"), F.col(f"__set_o.{v2}")
            # a scalar string/null pair keys by val_to_key, where a NULL
            # cell renders "null" and matches the literal string (r13)
            eq2 = (_canon_key(a, ldt) == _canon_key(o, rdt) if canon_keys
                   else a.eqNullSafe(o))
            cond = eq2 if cond is None else (cond & eq2)
        if how is not None:
            # anti/semi joins keep each receiver row at most once, so
            # no dedup — just restore the pipeline order the join
            # shuffle destroyed
            out = df.alias("__set_a").join(
                other.select(*vis).alias("__set_o"), cond, how)
            return self._reorder(p, out, order)
        a3 = df.select(*vis).alias("__set_a")
        if order is None:
            tail.q.has_union = True
            newbies = other.select(*vis).alias("__set_o").join(
                a3, cond, "left_anti")
            return p.then(df.select(*vis).unionByName(newbies))
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
        p2 = f"__ordu{tail.q.fresh()}_"
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
        union_order = (
            [(F.col(f"{p2}pri"), False)] +
            [(F.col(f"{p2}k{i2}"), d3)
             for i2, (_c3, d3) in enumerate(order)] +
            [(F.col(f"{p2}id"), False)])
        tail.q.has_union = True
        return p.then(recv2.unionByName(newb2), union_order)

    def _compact(self, p, args, env, tail):
        # drop null elements (ops/collection.rs:23); object rows are
        # non-null structs, so multi-column inputs pass through
        df = p.df
        vis = _vis_cols(df)
        if len(vis) == 1 and p.scalar:
            df = df.filter(F.col(vis[0]).isNotNull())
        return p.then(df, p.order)

    def _flatten(self, p, args, env, tail):
        # array-of-arrays rows → element rows: explode IS the
        # relational flatten; deeper levels flatten row-locally first
        df = p.df
        vis = _vis_cols(df)
        if len(vis) != 1 or not p.scalar:
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
            return p.then(out.select("__e.*"), scalar=False)
        return p.then(out.select(F.col("__e").alias(vis[0])), scalar=True)

    def _find_first(self, p, args, env, tail):
        # filter(pred) + First (the TerminalExprArg lowering,
        # defs.rs:975-1000) — so the no-match case is the scalar
        # Null, padded exactly like first() (r13: the unpadded
        # empty rowset diverged from doc mode's None)
        hits = p.df.filter(self._pred(args[0].value, p, env))
        return self._positional(p.then(hits, p.order), tail.q, 1, pad=True,
                                guard=False)

    def _find_index(self, p, args, env, tail):
        # 0-based index of first match over the pipeline order, -1
        # when absent (ops/array.rs:293); unordered → doc fallback
        if p.order is None:
            return None
        w = Window.orderBy(*_order_by(p.order))
        ok = self._pred(args[0].value, p, env)
        d2 = p.df.select((F.row_number().over(w) - 1).alias("__fi_rn"),
                         ok.alias("__fi_ok"))
        return p.then(d2.filter(F.col("__fi_ok")).agg(
            F.coalesce(F.min("__fi_rn"), F.lit(-1))
            .cast("long").alias("value")), scalar=True)

    def _includes(self, p, args, env, tail):
        # membership over the rowset → one-pass bool_or aggregation;
        # null-safe (a null probe matches null cells — Val::Null
        # keys as "null" in includes_apply) and TOTAL: a provably
        # cross-kind probe is constant false, not a CompileError
        df = p.df
        vis = _vis_cols(df)
        vt = self.c.compile(args[0].value, env)
        never = p.then(df.limit(0).agg(
            F.coalesce(F.bool_or(F.lit(False)),
                       F.lit(False)).alias("value")), scalar=True)
        if len(vis) == 1 and p.scalar:
            cell_t = df.schema[vis[0]].dataType
            if _key_collide(cell_t, vt.dtype):
                # val_to_key canonical keys (same collision classes
                # as the set ops — "3" matches 3, null matches the
                # literal "null", a string matches a container's
                # compact JSON — r13)
                eqc = (_canon_key(F.col(vis[0]), cell_t)
                       == _canon_key(vt.col, vt.dtype))
            elif not eq_comparable(cell_t, vt.dtype):
                return never
            else:
                eqc = F.col(vis[0]).eqNullSafe(
                    _reorder_struct_probe(vt, cell_t))
        else:
            # object rowset: the pipeline is a list of row objects —
            # membership compares each ROW to the probe (includes_apply
            # Val::Arr arm); a non-object or schema-mismatched probe
            # never matches, a matching-schema struct probe does
            row_t = T.StructType([df.schema[v2] for v2 in vis])
            if not eq_comparable(row_t, vt.dtype):
                return never
            eqc = F.struct(*[F.col(v2) for v2 in vis]).eqNullSafe(
                _reorder_struct_probe(vt, row_t))
        return p.then(df.agg(F.coalesce(F.bool_or(eqc),
                                        F.lit(False)).alias("value")),
                      scalar=True)

    def _index_of(self, p, args, env, tail):
        # first 0-based position of the value over the pipeline
        # order, -1 when absent (ops/array.rs index)
        df = p.df
        vis = _vis_cols(df)
        if p.order is None or len(vis) != 1 or not p.scalar:
            return None
        w = Window.orderBy(*_order_by(p.order))
        vt = self.c.compile(args[0].value, env)
        cell_t = df.schema[vis[0]].dataType
        if (not eq_comparable(cell_t, vt.dtype)
                or _cross_renders(cell_t, vt.dtype)):
            # the index family compares via TYPE-STRICT vals_eq —
            # cross-kind probes (incl. string-vs-number, which
            # Spark would ANSI-cast) never match → -1, total
            return p.then(df.limit(0).agg(
                F.coalesce(F.min(F.lit(0)), F.lit(-1))
                .cast("long").alias("value")))
        d2 = df.select((F.row_number().over(w) - 1).alias("__ix_rn"),
                       (F.col(vis[0]) == vt.col).alias("__ix_ok"))
        return p.then(d2.filter(F.col("__ix_ok")).agg(
            F.coalesce(F.min("__ix_rn"), F.lit(-1))
            .cast("long").alias("value")))

    def _join(self, p, args, env, tail):
        # string join sink: one-pass collect + array_join; the rn tag
        # keeps the pipeline order through the unordered agg
        df = p.df
        vis = _vis_cols(df)
        if len(vis) != 1 or not p.scalar:
            return None
        sep = _lit_str(args[0].value) if args else ""
        tagged, arr = _collected_elems(df, F.col(vis[0]), p.order,
                                       elem_dt=df.schema[vis[0]].dataType)
        return p.then(tagged.agg(F.array_join(arr, sep).alias("value")))

    def _indices(self, p, args, env, tail, *, of_value: bool,
                 last: bool):
        """Position queries over the pipeline order → one-pass agg of
        tagged row numbers: the sorted index array of predicate matches
        (indices_where) or of ``of_value`` matches (indices_of), or the
        last one, -1 when absent (last_index_of; ops/array.rs)."""
        df = p.df
        vis = _vis_cols(df)
        if p.order is None or (of_value
                               and (len(vis) != 1 or not p.scalar)):
            return None
        w = Window.orderBy(*_order_by(p.order))
        if of_value:
            v = self.c.compile(args[0].value, env).col
            # eqNullSafe: doc-mode AR.indices_of finds null values
            ok = F.col(vis[0]).eqNullSafe(v)
        else:
            ok = self._pred(args[0].value, p, env)
        d2 = df.select((F.row_number().over(w) - 1).cast("long")
                       .alias("__iw_rn"), ok.alias("__iw_ok"))
        hits = d2.filter(F.col("__iw_ok"))
        if last:
            out = hits.agg(F.coalesce(F.max("__iw_rn"), F.lit(-1))
                           .cast("long").alias("value"))
        else:
            # array result → rows (the fallback's explode convention)
            out = (hits.agg(F.array_sort(F.collect_list("__iw_rn"))
                            .alias("__v"))
                   .select(F.explode_outer("__v").alias("value")))
        return p.then(out, scalar=True)

    def _to_json(self, p, args, env, tail):
        # whole-pipeline JSON sink: ordered collect + to_json — the
        # same one-row driver-cliff class as join(sep); use
        # write_csv/write_parquet for table-scale exports
        elem = _element(p.df, p.scalar)
        tagged, arr = _collected_elems(p.df, elem.col, p.order,
                                       elem_dt=elem.dtype)
        return p.then(tagged.agg(F.to_json(arr).alias("value")), scalar=True)

    def _window(self, p, args, env, tail):
        # sliding windows of n consecutive rows over the pipeline
        # order (ops/collection.rs window): per-row frame collect,
        # short tails dropped — bounded by the user's n like chunk
        if p.order is None or not args:
            return None
        df = p.df
        n = _lit_int(args[0].value)
        if n <= 0:
            raise CompileError("window size must be positive")
        w = Window.orderBy(*_order_by(p.order))
        # struct wrapper: collect_list drops bare nulls, doc windows
        # keep them ([7.5, null] is a valid window of 2)
        win = F.transform(
            F.collect_list(F.struct(_element(df).col.alias("__w_e"))).over(
                w.rowsBetween(Window.currentRow, n - 1)),
            lambda s: s["__w_e"])
        out = (df.select((F.row_number().over(w) - 1).alias("__ord0"),
                         win.alias("value"))
               .filter(F.size("value") == n)
               .select("value", "__ord0"))
        return p.then(out, [(F.col("__ord0"), False)], scalar=True)

    def _partition(self, p, args, env, tail):
        # {pass: [...], fail: [...]} → one-pass agg with map-side
        # partials; preserves pipeline order via the rn tag
        df = p.df
        ok = self._pred(args[0].value, p, env)
        elem = _element(df)
        m = F.coalesce(ok, F.lit(False))
        if p.order is not None:
            w = Window.orderBy(*_order_by(p.order))
            tagged = df.select(F.row_number().over(w).alias("__p_rn"),
                               m.alias("__p_m"), elem.col.alias("__p_e"))
            arr = R.sort_by_field(
                F.collect_list(F.struct("__p_rn", "__p_m", "__p_e")),
                "__p_rn", payload_dt=elem.dtype)
        else:
            tagged = df.select(F.lit(0).alias("__p_rn"),
                               m.alias("__p_m"), elem.col.alias("__p_e"))
            arr = F.collect_list(F.struct("__p_rn", "__p_m", "__p_e"))
        keep = F.transform(F.filter(arr, lambda s: s["__p_m"]),
                           lambda s: s["__p_e"])
        drop = F.transform(F.filter(arr, lambda s: ~s["__p_m"]),
                           lambda s: s["__p_e"])
        return p.then(tagged.agg(keep.alias("pass"), drop.alias("fail")))

    def _group_shape(self, p, args, env, tail):
        # group_shape(key_λ, shape_λ): groupBy the STRINGIFIED key
        # (doc semantics, ops/array.rs:841-863), shape applied to the
        # per-key collected array — parallel by key, unlike the doc
        # fallback's whole-table collect
        elem = _element(p.df)
        key_fn, kd = self.c._lam(args[0].value, env, elem.dtype)
        if p.order is None:
            return None   # group sequences read pipeline order (r9)
        # first-seen key order is doc-observable when navigation
        # follows, like group_by (r10)
        df, go, eo = self._keyed_input(p.df, tail, "gs")
        # struct wrapper: collect_list drops bare null elements, doc
        # group arrays keep them; sorted by the doc-order surrogate
        # so the per-key sequence is pipeline order, not shuffle
        # arrival order (r9)
        wrapped = F.transform(
            R.sort_by_field(F.collect_list(
                F.struct(F.col(go).alias("__o"), elem.col.alias("__e"))),
                payload_dt=elem.dtype),
            lambda s: s["__e"])
        aggs = [wrapped.alias("__grp")]
        if eo is not None:
            aggs.append(F.min(F.col(go)).alias(eo))
        # canonical val_to_key string like every keyed reducer:
        # Null key renders as "null" (r10 soak catch — the bare
        # cast left a SQL NULL key where doc mode groups under
        # "null"), integral doubles drop the trailing .0
        grouped = (df.groupBy(_canon_key(key_fn(elem.col), kd).alias("key"))
                   .agg(*aggs))
        shape_fn, _sd = self.c._lam(args[1].value, env,
                                    T.ArrayType(elem.dtype))
        extras = [F.col(eo)] if eo is not None else []
        return self._emit_sorted(p, grouped.select(
            F.col("key"), shape_fn(F.col("__grp")).alias("value"),
            *extras), eo)

    def _accumulate(self, p, args, env, tail):
        """Relational accumulate for the running-SUM lambda shape —
        `(a, x) => a + <expr(x)>` (either operand order, optional scalar
        init): a window prefix sum over the pipeline order. The general
        fold (multiplication, conditionals) has no closed window form:
        None (→ doc fallback) for any other fold body, missing order, or
        non-scalar init."""
        df, order = p.df, p.order
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
        w = (Window.orderBy(*_order_by(order))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        hid = _hidden_cols(df)
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
        return p.then(out, order)

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
        return _first_per_key(df, [F.col(v2) for v2 in vis], order)

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

    def _window_fn(self, p, args, env, tail, *, fn):
        """Positional analytics over the pipeline's sequence order (§2.6):
        ``fn(x, window, args)`` builds the column.

        Document mode treats the pipeline as one ordered array; a Spark
        DataFrame has no intrinsic row order, so the order comes from the
        preceding ``.sort(...)`` stage or the scan-order surrogate.
        Lowering: a global un-partitioned Window over the sort keys —
        faithful to the single-sequence semantics and, like the
        reference's one-thread scan (ops/collection.rs:124-343),
        inherently sequential; for partition-parallel analytics at scale
        use the keyed forms in operators/analytics.py (with_lag etc. take
        partition columns)."""
        if p.order is None:
            # unordered AND the scan-order surrogate is unavailable (a
            # shuffle upstream made row order arbitrary): the doc
            # fallback preserves semantics — raising here was a
            # one-sided error vs doc mode (r8 unsorted-pipeline fuzz)
            return None
        df = p.df
        cname, x = _window_operand(df)
        w = Window.orderBy(*_order_by(p.order))
        return p.then(df.select(fn(x, w, args).alias(cname),
                                *_hidden_cols(df)), p.order)

    def _zscore(self, p, args, env, tail):
        # a two-pass agg + broadcast join — no single-partition window
        if p.order is None:
            return None
        df = p.df
        cname, x = _window_operand(df)
        hid = _hidden_cols(df)
        stats = df.agg(F.avg(x).alias("__mean"),
                       F.stddev_pop(x).alias("__sd"))
        z = (F.when(x.isNull(), F.lit(None).cast("double"))
             .when(F.col("__sd") > 0, (x - F.col("__mean")) / F.col("__sd"))
             .when(F.col("__mean").isNull(), F.lit(None).cast("double"))
             .otherwise(F.lit(0.0)))
        return p.then(df.crossJoin(F.broadcast(stats))
                      .select(z.alias(cname), *hid), p.order)

    def _table_refs(self, nodes: list[A.Node]) -> set[str]:
        """Names of registered tables referenced via `$.<name>` anywhere
        in the given AST nodes (generic dataclass walk)."""
        refs: set[str] = set()

        def walk(n):
            src = (self._source(n) if isinstance(n, A.Path)
                   and isinstance(n.base, A.Root) else None)
            if src is not None:
                refs.add(src[0])
            if dataclasses.is_dataclass(n) and not isinstance(n, type):
                for f in dataclasses.fields(n):
                    walk(getattr(n, f.name))
            elif isinstance(n, (list, tuple)):
                for x in n:
                    walk(x)

        for n in nodes:
            walk(n)
        return refs

    # ------------------------------------------------------- fallback

    # collect_list ceiling for _doc_fallback: above this Catalyst size
    # estimate the fallback REFUSES instead of OOMing an executor at
    # scale (override via JETRO_FALLBACK_MAX_BYTES; 0 disables)
    FALLBACK_MAX_BYTES = 1 << 30

    def _doc_fallback(self, df: DataFrame, steps: list[A.Node],
                      order: list | None = None, *,
                      scalar: bool = False) -> DataFrame:
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
        (the window is single-partition, but so is the whole fallback).
        ``scalar``: the pipeline's element is a bare scalar (Pipe.scalar)."""
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
        scalar = scalar and len(vis) == 1
        elem = _element(df, scalar)
        tagged, arr = _collected_elems(df, elem.col, order or None,
                                       elem_dt=elem.dtype)
        arr_df = tagged.agg(arr.alias("__arr"))
        tc = TC(F.col("__arr"), T.ArrayType(elem.dtype))
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


# ------------------------------------------------------- the stage table


@dataclasses.dataclass(frozen=True)
class Stage:
    """One builtin's relational lowering and the order traits the
    pipeline reads. ``lower(tables, pipe, args, env, tail)`` returns the
    outgoing Pipe, or None for the single-task doc fallback."""
    lower: Callable
    # reads the pipeline's sequence order: gets the scan-order surrogate
    # when none is carried (historically these collapsed to the doc
    # fallback on unsorted pipelines; since r8 they lower whenever the
    # physical row order still IS the document order, see Pipe.scan_ok)
    hungry: bool = False
    # afterwards the PHYSICAL row order still equals the document order
    # with no carried order: narrow transformations (filter/projection/
    # generate/limit — no exchange, partition order kept) and
    # single-row/scalar sinks (any order of one row is every order). A
    # stage without it that completes with no carried order invalidates
    # the scan-order surrogate for the rest of the pipeline.
    keeps_scan: bool = False
    # never READS the pipeline's order: projections, filters,
    # order-insensitive reducers (multiset semantics), and keyed
    # reducers whose doc/relational comparison contract is
    # order-normalized (count_by). Everything else — positional stages,
    # windows, sorts (stable ties), min_by/max_by (ties), first-seen/
    # last-wins keyed reducers, and any stage that might doc-fallback —
    # is conservatively an order CONSUMER.
    blind: bool = False
    # given its args, returns a single ELEMENT of the stream: an array
    # element stays one array cell, never exploded back into rows
    element: Callable[[list], bool] | None = None


def _always(args) -> bool:
    return True


def _n_is_one(args) -> bool:
    """first/last: only the n == 1 form returns an element."""
    try:
        return _opt_int(args, 1) == 1
    except CompileError:
        return False


def _stage_entry(step) -> Stage | None:
    """The table entry of a pipeline step: its builtin name resolved
    through ALIASES, without touching the AST (the doc fallback still
    compiles the step as spelled)."""
    if not isinstance(step, A.Method):
        return None
    return STAGES.get(ALIASES.get(step.name, step.name))


def _keeps_scan_order(step) -> bool:
    if isinstance(step, (A.InlineFilter, A.MapShape, A.Index, A.Slice,
                         A.Quantifier)):
        return True
    stage = _stage_entry(step)
    return stage is not None and stage.keeps_scan


def _order_blind(step) -> bool:
    if isinstance(step, (A.InlineFilter, A.MapShape, A.Quantifier)):
        return True
    stage = _stage_entry(step)
    return stage is not None and stage.blind


def _element_sink(step) -> bool:
    """Does this final pipeline step return a single ELEMENT of the
    stream (see Stage.element)?"""
    stage = _stage_entry(step)
    return (stage is not None and stage.element is not None
            and stage.element(step.args))


def _win(fn) -> Callable:
    return functools.partial(JetroTables._window_fn, fn=fn)


def _running(agg) -> Callable:
    return _win(lambda x, w, args: agg(x).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))


def _rolling(agg, empty_zero: bool = False) -> Callable:
    def fn(x, w, args):
        n = _opt_int(args, None)
        if n is None or n <= 0:
            raise CompileError("rolling window must be > 0")
        body = agg(x).over(w.rowsBetween(1 - n, 0))
        if empty_zero:
            # full all-null window sums the empty set to 0.0
            body = F.coalesce(body, F.lit(0.0))
        return F.when(F.row_number().over(w) >= n, body)
    return _win(fn)


def _pct_change(x, w, args):
    prev = F.lag(x, 1).over(w)
    # pct_change guards `p != 0.0` → null (ops/collection.rs:264)
    # while the `/` operator errors — so try_divide here
    return F.try_divide(x - prev, prev)


_T = JetroTables
_p = functools.partial
# Canonical builtin name → Stage. A name with no entry (see ALIASES for
# the spellings) has no relational lowering: its pipeline collapses to
# the doc fallback.
STAGES: dict[str, Stage] = {
    "filter": Stage(_T._filter, keeps_scan=True, blind=True),
    "map": Stage(_T._map, keeps_scan=True, blind=True),
    "flat_map": Stage(_T._flat_map, keeps_scan=True),
    "sort": Stage(_T._sort),
    "take": Stage(_T._take, keeps_scan=True),
    "skip": Stage(_T._skip, keeps_scan=True),
    "first": Stage(_T._first, keeps_scan=True, element=_n_is_one),
    "last": Stage(_T._last, hungry=True, element=_n_is_one),
    "nth": Stage(_T._nth, hungry=True, element=_always),
    "find_first": Stage(_T._find_first, element=_always),
    "take_while": Stage(_p(_T._while, take=True), hungry=True),
    "drop_while": Stage(_p(_T._while, take=False), hungry=True),
    "reverse": Stage(_T._reverse, hungry=True),
    "enumerate": Stage(_T._enumerate, hungry=True),
    "pairwise": Stage(_T._pairwise, hungry=True),
    "chunk": Stage(_T._chunk, hungry=True),
    "window": Stage(_T._window, hungry=True),
    "accumulate": Stage(_T._accumulate, hungry=True),
    "partition": Stage(_T._partition, keeps_scan=True),
    "unique": Stage(_T._unique, hungry=True),
    "unique_by": Stage(_T._unique_by, hungry=True),
    "compact": Stage(_T._compact, keeps_scan=True, blind=True),
    "flatten": Stage(_T._flatten, keeps_scan=True),
    "explode": Stage(_T._explode, keeps_scan=True, blind=True),
    "implode": Stage(_T._implode, hungry=True),
    # set ops keep the RECEIVER's document order (and ordered union
    # appends the other table's own order) — unsorted pipelines take the
    # order-restoring branches so the output sequence stays doc-faithful
    # (r8 2500-soak catch: diff's left_anti shuffle order leaked into a
    # downstream accumulate)
    "diff": Stage(_p(_T._set_op, how="left_anti"), hungry=True),
    "intersect": Stage(_p(_T._set_op, how="left_semi"), hungry=True),
    "union": Stage(_p(_T._set_op, how=None), hungry=True),
    "includes": Stage(_T._includes, keeps_scan=True, blind=True),
    "index_of": Stage(_T._index_of, keeps_scan=True),
    "find_index": Stage(_T._find_index),
    "indices_where": Stage(_p(_T._indices, of_value=False, last=False)),
    "indices_of": Stage(_p(_T._indices, of_value=True, last=False),
                        keeps_scan=True),
    "last_index_of": Stage(_p(_T._indices, of_value=True, last=True)),
    "join": Stage(_T._join, keeps_scan=True),
    "to_json": Stage(_T._to_json, keeps_scan=True),
    "to_csv": Stage(_p(_T._delimited, sep=","), keeps_scan=True),
    "to_tsv": Stage(_p(_T._delimited, sep="\t"), keeps_scan=True),
    # aggregates (§2.4)
    "count": Stage(_T._count, keeps_scan=True, blind=True),
    "len": Stage(_T._len, keeps_scan=True, blind=True),
    "sum": Stage(_p(_T._numeric, empty_zero=True,
                    agg=lambda x: F.coalesce(F.sum(x), F.lit(0.0))),
                 keeps_scan=True, blind=True),
    "avg": Stage(_p(_T._numeric, agg=F.avg, empty_zero=False),
                 keeps_scan=True, blind=True),
    "min": Stage(_p(_T._numeric, agg=F.min, empty_zero=False),
                 keeps_scan=True, blind=True, element=_always),
    "max": Stage(_p(_T._numeric, agg=F.max, empty_zero=False),
                 keeps_scan=True, blind=True, element=_always),
    "any": Stage(_p(_T._quantify, agg=F.bool_or, empty=False),
                 keeps_scan=True, blind=True),
    "all": Stage(_p(_T._quantify, agg=F.bool_and, empty=True),
                 keeps_scan=True, blind=True),
    "approx_count_distinct": Stage(_T._approx_count_distinct,
                                   keeps_scan=True, blind=True),
    "min_by": Stage(_p(_T._extreme_by, desc=False), keeps_scan=True,
                    element=_always),
    "max_by": Stage(_p(_T._extreme_by, desc=True), keeps_scan=True,
                    element=_always),
    # keyed reducers whose doc semantics read pipeline order: group_by
    # collects groups IN ORDER, index_by/pivot are last-wins, pivot3 /
    # group_shape collect per-cell/per-group sequences (r9 —
    # collect_list arrival order is arbitrary under real multi-mapper
    # shuffles; these sort collected elements by a scan-order surrogate
    # and fall back honestly when order is unrecoverable)
    "group_by": Stage(_T._group_by, hungry=True),
    "count_by": Stage(_T._count_by, blind=True),
    "index_by": Stage(_T._index_by, hungry=True),
    "pivot": Stage(_T._pivot, hungry=True),
    "group_shape": Stage(_T._group_shape, hungry=True),
    "equi_join": Stage(_T._equi_join, blind=True),
    # positional analytics (§2.6): a global Window over the order
    "lag": Stage(_win(lambda x, w, args: F.lag(x, _opt_int(args, 1))
                      .over(w)), hungry=True),
    "lead": Stage(_win(lambda x, w, args: F.lead(x, _opt_int(args, 1))
                       .over(w)), hungry=True),
    "diff_window": Stage(_win(lambda x, w, args: x - F.lag(x, 1).over(w)),
                         hungry=True),
    "pct_change": Stage(_win(_pct_change), hungry=True),
    "cummax": Stage(_running(F.max), hungry=True),
    "cummin": Stage(_running(F.min), hungry=True),
    "rolling_sum": Stage(_rolling(F.sum, empty_zero=True), hungry=True),
    "rolling_avg": Stage(_rolling(F.avg), hungry=True),
    "rolling_min": Stage(_rolling(F.min), hungry=True),
    "rolling_max": Stage(_rolling(F.max), hungry=True),
    "zscore": Stage(_T._zscore, hungry=True),
}
