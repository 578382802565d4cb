"""Object transforms & path reads (SURVEY.md §2.7-2.8).

Jetro objects are insertion-ordered maps (IndexMap, value.rs:47). Two
Spark representations, both handled here:

- **struct** (static schema — the common case after JSON ingest): key
  sets are plan-time constants, so keys/pick/omit/merge/rename/has
  compile to pure struct rebuilds — zero runtime key lookup, full
  whole-stage codegen.
- **objrepr** ``array<struct<key,value>>`` (dynamic keys — group_by
  output, transform_keys results): runtime entry manipulation with array
  HOFs.

Functions take (Column, DataType) and return (Column, DataType) so the
compiler keeps static types flowing.

This module writes at no path. Every write at a path — ``set``,
``update``, ``set_path``, ``del_path``, ``del_paths``,
``unflatten_keys``, and ``patch`` and the chain writes — goes through
the one struct writer in ``jetro_spark.jql.patch``. The shaping ops
here (pick/omit/rename/merge/...) take key lists, not paths.

Reference: ops/path.rs:203-350 (path ops), ops/array.rs:1006-1072
(transform/filter keys/values), ops/collection.rs:648-730 (entries,
merge, rename), ops/misc.rs:21,123 (values, has).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


from jetro_spark.errors import CompileError as _CompileError


class ObjError(_CompileError):
    """Object-shape language error (keys() on a non-object, malformed
    from_pairs input). Subclasses CompileError (r10): the reference
    surfaces these as controlled EvalErrors, so both modes must raise
    on the ONE catchable channel — the doc-fallback path previously
    leaked ObjError past the differential harness's CompileError
    handler as an uncontrolled failure."""


def _unify(dts: list[T.DataType]) -> T.DataType:
    from jetro_spark.jql.compiler import unify

    return unify(dts) or T.StringType()


def _objrepr(value_dt: T.DataType) -> T.ArrayType:
    return T.ArrayType(T.StructType([
        T.StructField("key", T.StringType(), True),
        T.StructField("value", value_dt, True)]))


def require_struct(dt) -> T.StructType:
    if not isinstance(dt, T.StructType):
        raise ObjError(f"expected object (struct), got {dt}")
    return dt


# ------------------------------------------------------------- reflection


def keys(col: Column, dt: T.DataType):
    """Reference: ops/array.rs:1042."""
    st = require_struct(dt)
    return F.array(*[F.lit(f.name) for f in st.fields]), T.ArrayType(T.StringType())


def values(col: Column, dt: T.DataType):
    """Reference: ops/misc.rs:21."""
    st = require_struct(dt)
    vdt = _unify([f.dataType for f in st.fields])
    return (F.array(*[col.getField(f.name).cast(vdt) for f in st.fields]),
            T.ArrayType(vdt))


def entries(col: Column, dt: T.DataType):
    """entries / to_pairs → ordered [{key, value}].
    Reference: ops/collection.rs:648."""
    st = require_struct(dt)
    vdt = _unify([f.dataType for f in st.fields])
    arr = F.array(*[
        F.struct(F.lit(f.name).alias("key"),
                 col.getField(f.name).cast(vdt).alias("value"))
        for f in st.fields])
    return arr, _objrepr(vdt)


def from_pairs(col: Column, dt: T.DataType):
    """[[k,v]...] or [{key,value}...] or positional-pair structs
    ([{__p0,__p1}...], the entries()/to_pairs() output) → object
    (objrepr, last-wins handled on read). Reference: ops/collection.rs:668."""
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
        names = [f.name for f in dt.elementType.fields]
        if names == ["__p0", "__p1"]:
            vdt = dt.elementType["__p1"].dataType
            arr = F.transform(col, lambda p: F.struct(
                p["__p0"].cast("string").alias("key"),
                p["__p1"].alias("value")))
            return arr, _objrepr(vdt)
        return col, dt  # already entries-shaped
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.ArrayType):
        vdt = dt.elementType.elementType
        arr = F.transform(col, lambda p: F.struct(
            F.element_at(p, 1).cast("string").alias("key"),
            F.element_at(p, 2).alias("value")))
        return arr, _objrepr(vdt)
    raise ObjError("from_pairs expects an array of pairs")


def invert(col: Column, dt: T.DataType):
    """{k: v} → {str(v): k}. Reference: ops/collection.rs:688."""
    st = require_struct(dt)
    arr = F.array(*[
        F.struct(col.getField(f.name).cast("string").alias("key"),
                 F.lit(f.name).alias("value"))
        for f in st.fields])
    return arr, _objrepr(T.StringType())


# --------------------------------------------------------------- shaping


def pick(col: Column, dt: T.DataType, picks: list[tuple[str, str]]):
    """pick(k, alias: src, …) — subset with optional renames; missing
    source keys yield null fields. Reference: ops/path.rs:225-276."""
    st = require_struct(dt)
    names = set(st.fieldNames())
    cols, fields = [], []
    for out_name, src in picks:
        if src in names:
            cols.append(col.getField(src).alias(out_name))
            fields.append(T.StructField(out_name, st[src].dataType, True))
        else:
            cols.append(F.lit(None).alias(out_name))
            fields.append(T.StructField(out_name, T.NullType(), True))
    return F.struct(*cols), T.StructType(fields)


def omit(col: Column, dt: T.DataType, drop: list[str]):
    """Reference: ops/path.rs:277-316."""
    st = require_struct(dt)
    keep = [f for f in st.fields if f.name not in set(drop)]
    return (F.struct(*[col.getField(f.name).alias(f.name) for f in keep]),
            T.StructType(keep))


def merge(a: Column, adt: T.DataType, b: Column, bdt: T.DataType):
    """Shallow right-wins merge, left key order then new right keys.
    Reference: ops/collection.rs:697."""
    ast, bst = require_struct(adt), require_struct(bdt)
    bnames = set(bst.fieldNames())
    cols, fields = [], []
    for f in ast.fields:
        if f.name in bnames:
            cols.append(b.getField(f.name).alias(f.name))
            fields.append(T.StructField(f.name, bst[f.name].dataType, True))
        else:
            cols.append(a.getField(f.name).alias(f.name))
            fields.append(f)
    for f in bst.fields:
        if f.name not in set(ast.fieldNames()):
            cols.append(b.getField(f.name).alias(f.name))
            fields.append(f)
    return F.struct(*cols), T.StructType(fields)


def deep_merge(a: Column, adt: T.DataType, b: Column, bdt: T.DataType):
    """Recursive merge: nested objects merge, everything else right wins.
    Reference: util.rs:457-516."""
    ast, bst = require_struct(adt), require_struct(bdt)
    bnames = set(bst.fieldNames())
    cols, fields = [], []
    for f in ast.fields:
        if f.name in bnames:
            bf = bst[f.name]
            if isinstance(f.dataType, T.StructType) and isinstance(bf.dataType, T.StructType):
                sub, sub_dt = deep_merge(a.getField(f.name), f.dataType,
                                         b.getField(f.name), bf.dataType)
                cols.append(sub.alias(f.name))
                fields.append(T.StructField(f.name, sub_dt, True))
            else:
                cols.append(b.getField(f.name).alias(f.name))
                fields.append(T.StructField(f.name, bf.dataType, True))
        else:
            cols.append(a.getField(f.name).alias(f.name))
            fields.append(f)
    for f in bst.fields:
        if f.name not in set(ast.fieldNames()):
            cols.append(b.getField(f.name).alias(f.name))
            fields.append(f)
    return F.struct(*cols), T.StructType(fields)


def defaults(a: Column, adt: T.DataType, b: Column, bdt: T.DataType):
    """Left wins; right only fills nulls / missing keys.
    Reference: ops/collection.rs:715."""
    ast, bst = require_struct(adt), require_struct(bdt)
    bnames = set(bst.fieldNames())
    cols, fields = [], []
    for f in ast.fields:
        if f.name in bnames:
            v = F.coalesce(a.getField(f.name),
                           b.getField(f.name).cast(f.dataType.simpleString())
                           if f.dataType != T.NullType() else b.getField(f.name))
            cols.append(v.alias(f.name))
        else:
            cols.append(a.getField(f.name).alias(f.name))
        fields.append(f)
    for f in bst.fields:
        if f.name not in set(ast.fieldNames()):
            cols.append(b.getField(f.name).alias(f.name))
            fields.append(f)
    return F.struct(*cols), T.StructType(fields)


def rename(col: Column, dt: T.DataType, mapping: dict[str, str]):
    """rename({old: new}) keeps position. Reference: ops/collection.rs:730."""
    st = require_struct(dt)
    cols, fields = [], []
    for f in st.fields:
        nm = mapping.get(f.name, f.name)
        cols.append(col.getField(f.name).alias(nm))
        fields.append(T.StructField(nm, f.dataType, True))
    return F.struct(*cols), T.StructType(fields)


def has_keys(col: Column, dt: T.DataType, names: list[str]):
    """has(k, …): all keys present — a plan-time constant on structs.
    Reference: ops/misc.rs:123."""
    st = require_struct(dt)
    present = set(st.fieldNames())
    return F.lit(all(n in present for n in names)), T.BooleanType()


# ------------------------------------------------- key/value transforms


def transform_keys(col: Column, dt: T.DataType, fn):
    """Keys become dynamic → objrepr output. Reference: ops/array.rs:1006."""
    ent, ent_dt = entries(col, dt)
    vdt = ent_dt.elementType["value"].dataType
    arr = F.transform(ent, lambda e: F.struct(
        fn(e["key"]).cast("string").alias("key"), e["value"].alias("value")))
    return arr, _objrepr(vdt)


def transform_values(col: Column, dt: T.DataType, fn_with_dt):
    """Values transformed per field, struct shape kept.
    ``fn_with_dt(col, dtype) -> (col, dtype)``. Reference: ops/array.rs:1017."""
    st = require_struct(dt)
    cols, fields = [], []
    for f in st.fields:
        v, vdt = fn_with_dt(col.getField(f.name), f.dataType)
        cols.append(v.alias(f.name))
        fields.append(T.StructField(f.name, vdt, True))
    return F.struct(*cols), T.StructType(fields)


def filter_keys(col: Column, dt: T.DataType, pred):
    """Dynamic inclusion → objrepr. Reference: ops/array.rs:1028."""
    ent, ent_dt = entries(col, dt)
    return F.filter(ent, lambda e: pred(e["key"])), ent_dt


def filter_values(col: Column, dt: T.DataType, pred_with_dt):
    """Reference: ops/array.rs:1039."""
    st = require_struct(dt)
    ent, ent_dt = entries(col, dt)
    vdt = ent_dt.elementType["value"].dataType
    return F.filter(ent, lambda e: pred_with_dt(e["value"], vdt)), ent_dt


# -------------------------------------------------------------- path ops


def split_path(path: str) -> list[str]:
    return [p for p in path.split(".") if p]


def get_path(col: Column, dt: T.DataType, path: str):
    """get_path("a.b.c") — deep get, null when absent.
    Reference: ops/path.rs:203."""
    cur, cur_dt = col, dt
    for p in split_path(path):
        if isinstance(cur_dt, T.StructType) and p in cur_dt.fieldNames():
            cur, cur_dt = cur.getField(p), cur_dt[p].dataType
        else:
            return F.lit(None), T.NullType()
    return cur, cur_dt


def has_path(col: Column, dt: T.DataType, path: str):
    """Structural presence — plan-time on static schemas.
    Reference: ops/path.rs:210."""
    cur_dt = dt
    for p in split_path(path):
        if isinstance(cur_dt, T.StructType) and p in cur_dt.fieldNames():
            cur_dt = cur_dt[p].dataType
        else:
            return F.lit(False), T.BooleanType()
    return F.lit(True), T.BooleanType()


def flatten_keys(col: Column, dt: T.DataType):
    """Nested object → flat {"a.b.c": leaf} (objrepr, document order).
    Reference: ops/path.rs:342."""
    st = require_struct(dt)
    leaves: list[tuple[str, Column, T.DataType]] = []

    def walk(c: Column, d: T.DataType, prefix: str) -> None:
        if isinstance(d, T.StructType):
            for f in d.fields:
                walk(c.getField(f.name), f.dataType,
                     f"{prefix}.{f.name}" if prefix else f.name)
        else:
            leaves.append((prefix, c, d))

    walk(col, st, "")
    vdt = _unify([d for _, _, d in leaves])
    arr = F.array(*[
        F.struct(F.lit(k).alias("key"), c.cast(vdt).alias("value"))
        for k, c, _ in leaves])
    return arr, _objrepr(vdt)
