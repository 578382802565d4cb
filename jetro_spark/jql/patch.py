"""Path writes: immutable deep writes as plan-time struct rebuilds.

This module is the one struct writer. ``patch`` clauses, chain writes
(``.set``/``.modify``/``.delete``/``.unset``) and the path builtins
(``set``/``update``/``set_path``/``del_path``/``del_paths``,
``unflatten_keys``) all write through ``_write``; they differ only in
the leaf callback that gives the new value at the end of the path
(``leaf(old: TC) -> TC | _DELETE``). ``functions/objects.py`` keeps the
object ops that have no path (pick/omit/merge/rename, ...).

``patch TARGET { path: value when guard?, ... }`` builds a NEW document;
clauses apply sequentially, each seeing the previous clause's output,
while `when` guards evaluate against the pre-patch target
(SYNTAX.md:406-499, INDEPTH.md:282-298; trie semantics
vm/opcode.rs:408-530, tests/chain_write.rs).

Spark lowering (SURVEY.md §2.11): every write is a recursive rebuild of
the target struct column — replaced fields swap in the new expression,
untouched fields are straight `getField` copies (Catalyst collapses the
chain of rebuilds into one Project, the analog of the reference's patch
fusion trie, plan/patch_fusion.rs). Array steps (`[n]`, `[*]`,
`[* if p]`) lower to `transform`/`filter` higher-order functions;
`..field` descends the static schema at plan time.

Static-schema nuances vs the dynamic reference:

- A guarded clause whose two branches have the SAME schema compiles to
  a per-field `when(guard, new).otherwise(old)` — fully runtime.
- A guarded field-ADD or guarded DELETE changes the output schema, so
  the guard must be decided at plan time: statically when possible,
  otherwise via the engine's ``py_eval`` hook (document mode evaluates
  one document, so the guard is a scalar — this mirrors the reference,
  which is single-document too). Inside HOF lambdas there is no such
  scalar context and those clauses are a compile error.
- An array write that changes only SOME elements (`[n]`, `[* if p]`)
  gives every element one type: the union of the old and new element
  structs, null-padded. A field DELETEd from those elements therefore
  reads back as null instead of being absent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jetro_spark.functions.core import jt_truthy
from jetro_spark.jql import ast as A
from jetro_spark.jql.compiler import (TC, CompileError, _probe, names_differ,
                                      unify, widen_struct)

# leaf-delete sentinel: returned by a leaf (and so by _write when the
# remaining steps are empty); each step handler turns it into the
# matching removal (drop field / remove element / filter)
_DELETE = object()


def delete_leaf(old: TC):
    """The leaf of a DELETE: patch `DELETE` values, `.delete()`/`.unset`,
    del_path and del_paths."""
    return _DELETE


def _value_leaf(comp, value: A.Node, env):
    """The leaf of a patch clause or chain write: DELETE, or ``value``
    compiled with `@` bound to the pre-write value at the path."""
    if isinstance(value, A.Delete):
        return delete_leaf
    return lambda old: comp.compile(value, env.with_current(old))


class PatchError(CompileError):
    pass


def _same_shape(a: T.DataType, b: T.DataType) -> bool:
    """Structural equality ignoring nullable/containsNull flags — the
    "schema-preserving write" test (a guarded overwrite is runtime-
    conditional iff both branches have the same Spark TYPES; their
    nullability claims may legitimately differ under r14 exact-
    nullability ingestion)."""
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        return (len(a.fields) == len(b.fields)
                and all(fa.name == fb.name
                        and _same_shape(fa.dataType, fb.dataType)
                        for fa, fb in zip(a.fields, b.fields)))
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return _same_shape(a.elementType, b.elementType)
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return (_same_shape(a.keyType, b.keyType)
                and _same_shape(a.valueType, b.valueType))
    return a == b


def _loosen_merge(a: T.DataType, b: T.DataType) -> T.DataType:
    """Flag-wise OR of two same-shape dtypes: the sound claim for a
    value that may come from either branch of a runtime conditional."""
    if isinstance(a, T.StructType):
        return T.StructType([
            T.StructField(fa.name,
                          _loosen_merge(fa.dataType, fb.dataType),
                          fa.nullable or fb.nullable)
            for fa, fb in zip(a.fields, b.fields)])
    if isinstance(a, T.ArrayType):
        return T.ArrayType(_loosen_merge(a.elementType, b.elementType),
                           a.containsNull or b.containsNull)
    if isinstance(a, T.MapType):
        return T.MapType(a.keyType, _loosen_merge(a.valueType, b.valueType),
                         a.valueContainsNull or b.valueContainsNull)
    return a


def compile_patch(comp, n: A.Patch, env):
    """Entry point: comp is the Compiler instance."""
    target = comp.compile(n.target, env)
    if target.row:
        # relational row target (`map(patch @ {...})` in a table
        # pipeline — r8): materialize the row as a struct column and
        # patch that; the struct-typed result explodes back to columns
        # in _select_body. Hidden __ord order-carry columns are not part
        # of the element value and stay out of the patched document.
        if not isinstance(target.dtype, T.StructType):
            raise PatchError(
                "patch requires a document value (relational rows "
                "are patched via withColumn at the table level)")
        fields = [f for f in target.dtype.fields
                  if not f.name.startswith("__ord")]
        target = TC(F.struct(*[F.col(f.name).alias(f.name)
                               for f in fields]),
                    T.StructType(fields))
    orig = target
    col, dt = target.col, target.dtype
    for cl in n.clauses:
        col, dt = _apply_clause(comp, col, dt, cl, env, orig)
    return TC(col, dt, doc=True)


def _apply_clause(comp, col, dt, cl: A.PatchClause, env, orig):
    steps = [A.PatchStep("field", name=cl.root)] + list(cl.steps)
    applied = _write(comp, col, dt, steps, _value_leaf(comp, cl.value, env),
                     env)
    if applied is _DELETE:  # `patch $ { x: DELETE }` with root-only path
        raise PatchError("internal: root-level DELETE must be handled by "
                         "the field step")
    ncol, ndt = applied
    if cl.guard is None:
        return ncol, ndt

    genv = env.with_current(orig)
    g = comp.compile(cl.guard, genv)
    gcol = jt_truthy(g.col, g.dtype)
    if _same_shape(ndt, dt):
        # schema-preserving write → runtime conditional on the whole
        # doc. Shape is compared MODULO nullability flags (r14:
        # ingestion claims exact nullability, so a guarded overwrite
        # of a provably-non-null field no longer compares equal by
        # ==); either branch can win at runtime, so the claimed dtype
        # is the flag-wise OR of both.
        return F.when(gcol, ncol).otherwise(col), _loosen_merge(ndt, dt)
    st = comp._static_truth(cl.guard, genv)
    if st is True:
        return ncol, ndt
    if st is False:
        return col, dt
    if env.py_eval is not None:
        return (ncol, ndt) if env.py_eval(gcol) else (col, dt)
    raise PatchError(
        "guarded patch clause changes the schema (field add/DELETE) and "
        "the guard is not decidable in this context")


def write_keys(comp, recv: TC, keys: list[str], leaf, env) -> TC:
    """The path builtins' write: ``leaf`` at the field path ``keys`` below
    ``recv`` (one key for set/update, the dotted path's parts for
    set_path/del_path). Missing or non-object intermediates are created
    for a value and left alone for a DELETE, as in a patch clause."""
    steps = [A.PatchStep("field", name=k) for k in keys]
    r = _write(comp, recv.col, recv.dtype, steps, leaf, env)
    if r is _DELETE:
        raise CompileError("cannot delete at an empty path")
    return TC(*r)


# ----------------------------------------------------------------- write


def _write(comp, col: Column, dt, steps: list[A.PatchStep], leaf, env):
    """Apply one write at `steps` below (col, dt), with ``leaf(old)``
    giving the new value at the end of the path. Returns
    (new_col, new_dtype) or the _DELETE sentinel (leaf deletes)."""
    if not steps:
        new = leaf(TC(col, dt))
        return new if new is _DELETE else (new.col, new.dtype)
    st, rest = steps[0], steps[1:]
    if st.kind == "field":
        return _write_field(comp, col, dt, st.name, rest, leaf, env)
    if st.kind == "index":
        return _write_index(comp, col, dt, st, rest, leaf, env)
    if st.kind in ("wild", "wild_if"):
        return _write_wild(comp, col, dt, st.pred, rest, leaf, env)
    if st.kind == "descendant":
        return _write_descendant(comp, col, dt, st.name, rest, leaf, env)
    raise PatchError(f"unsupported patch step kind {st.kind!r}")


def _rebuild(col: Column, dt: T.StructType, name: str, new) -> tuple[Column, T.StructType]:
    """Struct with field `name` replaced/appended/dropped (insertion
    order preserved; new fields append — IndexMap semantics, value.rs:47)."""
    cols: list[Column] = []
    fields: list[T.StructField] = []
    seen = False
    for f in dt.fields:
        if f.name == name:
            seen = True
            if new is _DELETE:
                continue
            cols.append(new[0].alias(name))
            fields.append(T.StructField(name, new[1], True))
        else:
            cols.append(col.getField(f.name).alias(f.name))
            fields.append(f)
    if not seen and new is not _DELETE:
        cols.append(new[0].alias(name))
        fields.append(T.StructField(name, new[1], True))
    # deleting the last field leaves the empty object: F.struct()
    return F.struct(*cols), T.StructType(fields)


def _write_field(comp, col, dt, name, rest, leaf, env):
    if isinstance(dt, T.StructType) and name in dt.fieldNames():
        sub_dt = dt[name].dataType
        r = _write(comp, col.getField(name), sub_dt, rest, leaf, env)
        return _rebuild(col, dt, name, r)
    # missing field (or non-object parent): synthesize, matching the
    # reference's walker which replaces non-objects and creates missing
    # intermediates (chain_write.rs batched_patch_insert_missing_field)
    r = _write(comp, F.lit(None), T.NullType(), rest, leaf, env)
    if r is _DELETE or (rest and isinstance(r[1], T.NullType)):
        # nothing was written below the missing field (a DELETE, or an
        # index/wildcard step into the absent value): no-op
        return col, dt
    if isinstance(dt, T.StructType):
        return _rebuild(col, dt, name, r)
    return F.struct(r[0].alias(name)), \
        T.StructType([T.StructField(name, r[1], True)])


def _coerce(c: Column, have, want) -> Column:
    """An element of type ``have`` as the array's new element type. A
    struct whose field names differ (a field added or deleted) is
    rebuilt by name with null padding; a cast would fail, or pair the
    fields by position."""
    if have == want or want is None:
        return c
    if names_differ(have, want):
        return widen_struct(c, have, want)
    return c.cast(want)


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every nullability flag set."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True)
                             for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _nullable(dt.valueType), True)
    return dt


def _unify_elem(comp, a, b):
    """The element type both the rewritten and the untouched elements of
    an array write are converted to. Fully nullable: Spark refuses a cast that
    makes a nullable field NOT NULL, and Spark may type a rebuilt element
    nullable where the document's inferred schema says NOT NULL (element
    writes on ingested documents raised
    DATATYPE_MISMATCH.CAST_WITHOUT_SUGGESTION)."""
    u = unify([a, b])
    if u is None:
        raise PatchError("patch write changes an array element to an "
                         "incompatible type")
    return _nullable(u)


def _write_index(comp, col, dt, st: A.PatchStep, rest, leaf, env):
    if not isinstance(dt, T.ArrayType):
        return col, dt  # indexing a non-array: no-op (reference: no panic)
    elem = dt.elementType
    if st.dyn is not None:
        # dynamic index (PathStep::DynIndex): negative = from the end
        iv = comp.compile(st.dyn, env).col.cast("int")
        pos = F.when(iv < 0, F.size(col) + iv).otherwise(iv)
    elif st.index >= 0:
        pos = F.lit(st.index)
    else:
        pos = F.size(col) + F.lit(st.index)
    probe = _write(comp, _probe(elem), elem, rest, leaf, env)
    if probe is _DELETE:
        return F.filter(col, lambda x, i: i != pos), dt
    ndt = _unify_elem(comp, elem, probe[1])

    def tx(x: Column, i: Column) -> Column:
        nc, nd = _write(comp, x, elem, rest, leaf, env)
        return F.when(i == pos, _coerce(nc, nd, ndt)) \
            .otherwise(_coerce(x, elem, ndt))

    return F.transform(col, tx), T.ArrayType(ndt)


def _write_wild(comp, col, dt, pred, rest, leaf, env):
    if not isinstance(dt, T.ArrayType):
        return col, dt
    elem = dt.elementType
    # `[* if pred]` context = the element (SYNTAX.md:469-484)
    pred_fn = comp._pred(pred, env, elem) if pred is not None else None
    probe = _write(comp, _probe(elem), elem, rest, leaf, env)
    if probe is _DELETE:
        if pred_fn is None:
            return F.array().cast(dt), dt
        return F.filter(col, lambda x: ~pred_fn(x)), dt
    ndt = _unify_elem(comp, elem, probe[1])
    if pred_fn is None and names_differ(probe[1], ndt):
        # every element is rewritten: the fields the write deleted stay
        # deleted instead of coming back null-padded
        ndt = _nullable(probe[1])

    def tx(x: Column) -> Column:
        nc, nd = _write(comp, x, elem, rest, leaf, env)
        new = _coerce(nc, nd, ndt)
        if pred_fn is None:
            return new
        return F.when(pred_fn(x), new).otherwise(_coerce(x, elem, ndt))

    return F.transform(col, tx), T.ArrayType(ndt)


def _write_descendant(comp, col, dt, name, rest, leaf, env):
    """`..field` patch step: apply the write at EVERY field named `name`
    anywhere below (plan-time schema walk, same strategy as read-side
    deep search — SURVEY.md §2.10)."""
    def walk(c: Column, d):
        if isinstance(d, T.StructType):
            cols, fields = [], []
            for f in d.fields:
                sub = c.getField(f.name)
                if f.name == name:
                    r = _write(comp, sub, f.dataType, rest, leaf, env)
                    if r is _DELETE:
                        continue
                    nc, nd = r
                else:
                    nc, nd = walk(sub, f.dataType)
                cols.append(nc.alias(f.name))
                fields.append(T.StructField(f.name, nd, True))
            # every field deleted → EMPTY object {}, not the original
            # (tier1_chain_descendant_delete)
            return F.struct(*cols), T.StructType(fields)
        if isinstance(d, T.ArrayType):
            # element dtype is uniform → walk a probe for the new dtype,
            # then rebuild per element
            _, nd = walk(_probe(d.elementType), d.elementType)
            return F.transform(c, lambda x: walk(x, d.elementType)[0]), \
                T.ArrayType(nd)
        return c, d

    return walk(col, dt)
