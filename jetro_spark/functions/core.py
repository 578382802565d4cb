"""Core jetro semantics shims (SURVEY.md §1.6).

The reference defines language-level semantics Spark does not share; each
gets a Column-builder shim here so the compiled plans preserve jetro
behaviour exactly:

- truthiness            reference: jetro-core/src/util.rs:63-74,174-176
- comparison null-coerce reference: jetro-core/src/util.rs:79-95,140-168
- ``/`` float division   reference: jetro-core/src/parse/ast.rs:368-370
- 0-based / negative index, half-open slices
                        reference: jetro-core/src/data/value.rs:282-344
- fuzzy match ``~=``     reference: jetro-core/src/parse/ast.rs:385-386
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def let_(value: Column, body) -> Column:
    """Bind ``value`` ONCE as a lambda variable and evaluate ``body`` on
    it: ``transform(array(value), body)[0]``.

    HOF lambdas have no common-subexpression elimination, and neither do
    plain expression trees that reference the same Column object twice —
    each reference is a full copy of the subtree, re-evaluated per row
    (or per ELEMENT when the reference sits inside a per-element
    lambda). Binding turns those references into one evaluation. Lives
    here (not arrays.py, which re-exports it) so the index/slice shims
    below can use it without an import cycle."""
    return F.transform(F.array(value), body)[0]


def jt_truthy(col: Column, dtype: T.DataType | None = None) -> Column:
    """Jetro truthiness: null→false; bool→itself; number→!=0;
    string→non-empty; array/object→non-empty.

    The static type is required: a Spark Column always HAS one (every
    plan column is statically typed), and guessing here is a correctness
    trap — ``cast("boolean")`` maps a non-empty string like ``"abc"`` to
    null→false where jetro says non-empty→true (util.rs:63-74). Callers
    that lost the type must recover it from the DataFrame schema.
    Reference: jetro-core/src/util.rs:63-74.
    """
    if dtype is None:
        raise TypeError(
            "jt_truthy requires the column's static dtype; casting an "
            "unknown type to boolean would coerce non-empty strings to "
            "false (resolve the type via df.schema / the compiler's TC)")
    if isinstance(dtype, T.BooleanType):
        return F.coalesce(col, F.lit(False))
    if isinstance(dtype, T.NullType):
        return F.lit(False)
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                          T.DoubleType, T.FloatType, T.DecimalType)):
        return F.coalesce(col != F.lit(0), F.lit(False))
    if isinstance(dtype, T.StringType):
        return F.coalesce(F.length(col) > 0, F.lit(False))
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return F.coalesce(F.size(col) > 0, F.lit(False))
    if isinstance(dtype, T.VariantType):
        return F.coalesce(vtruthy(col), F.lit(False))
    if isinstance(dtype, T.StructType):
        return col.isNotNull()
    return col.isNotNull()


def jt_div(a: Column, b: Column) -> Column:
    """Jetro ``/`` is always float division (int/int promotes to double).
    Reference: jetro-core/src/parse/ast.rs:368-370."""
    return a.cast("double") / b.cast("double")


def jt_add(a: Column, b: Column, dtype: T.DataType | None = None) -> Column:
    """Jetro ``+``: numeric add, string concat, or array concat by type.
    Reference: jetro-core/src/util.rs:255-276."""
    if isinstance(dtype, T.StringType):
        return F.concat(a, b)
    if isinstance(dtype, T.ArrayType):
        return F.concat(a, b)
    return a + b


def elem_at(arr: Column, idx: Column | int) -> Column:
    """``try_element_at`` semantics (1-based, negative-from-end, invalid
    index → null) WITHOUT ``TryEval``: a when-guarded ``element_at``.

    ``F.try_element_at`` wraps ``ElementAt`` in ``TryEval``, whose
    generated Java fails janino compilation in this Spark build
    ("Expression isNull_X is not an rvalue") — every expression tree
    containing it silently drops the enclosing whole-stage-codegen unit
    to interpreted eval, a 10-100× per-row slowdown at scale. The
    CASE-WHEN guard evaluates ``element_at`` only in bounds, so ANSI
    never throws and codegen stays intact."""
    i = idx if isinstance(idx, Column) else F.lit(idx)
    i = i.cast("int")
    # let_: the guard's size() and the element_at both reference arr —
    # unbound, a chained upstream would evaluate twice per row
    return let_(arr, lambda a: F.when(
        (i != 0) & (F.abs(i) <= F.size(a)), F.element_at(a, i)))


def jt_element_at(arr: Column, idx: int) -> Column:
    """0-based indexing with Python-style negatives over Spark's 1-based
    ``element_at`` (negative-from-end is -1-based in both, so only the
    non-negative case shifts). OOB → null.
    Reference: jetro-core/src/data/value.rs:297-344."""
    return elem_at(arr, idx + 1 if idx >= 0 else idx)


def jt_element_at_dyn(arr: Column, idx: Column) -> Column:
    """Dynamic-index variant of :func:`jt_element_at`."""
    return elem_at(arr, F.when(idx >= 0, idx + 1).otherwise(idx))


def jt_slice(arr: Column, start: int | None, stop: int | None) -> Column:
    """Python-style half-open slice ``[a:b]`` with open ends and negative
    indices, over Spark's 1-based ``slice(arr, start, length)``.
    Reference: jetro-core/src/grammar.pest:65-70, SYNTAX.md:84-97.
    Input let_-bound (up to four size references otherwise)."""

    def _body(a: Column) -> Column:
        n = F.size(a)

        def norm(i: int) -> Column:
            # clamp(i < 0 ? n + i : i, 0, n)
            c = F.lit(i) + n if i < 0 else F.lit(i)
            return F.greatest(F.lit(0), F.least(c, n))

        lo = norm(start) if start is not None else F.lit(0)
        hi = norm(stop) if stop is not None else n
        length = F.greatest(hi - lo, F.lit(0))
        return F.slice(a, lo + 1, length)

    return let_(arr, _body)


def jt_fuzzy_match(a: Column, b: Column) -> Column:
    """``~=``: case-insensitive substring test.
    Reference: jetro-core/src/parse/ast.rs:385-386, SYNTAX.md:133."""
    return F.contains(F.lower(a), F.lower(b))


def jt_cast(col: Column, target: str, dtype: T.DataType | None = None) -> Column:
    """``x as int|float|number|string|bool|array|object|null``.
    Reference: jetro-core/src/parse/ast.rs:211-230. Uses try_cast semantics
    (failure → null) to match jetro's error-free cast behaviour."""
    if target == "int":
        return col.try_cast("long")
    if target in ("float", "number"):
        return col.try_cast("double")
    if target == "string":
        return col.cast("string")
    if target == "bool":
        return col.try_cast("boolean")
    if target == "array":
        # array-wrap rule: scalar → [scalar], array → identity
        if isinstance(dtype, T.ArrayType):
            return col
        return F.array(col)
    if target == "null":
        return F.lit(None)
    raise ValueError(f"unsupported cast target: {target}")


def jt_type_of(col: Column) -> Column:
    """``type`` builtin → jetro kind names (number/string/bool/array/object/null).
    Reference: jetro-core/src/builtins/ops/misc.rs:36."""
    t = F.typeof(col)
    return (
        F.when(col.isNull(), F.lit("null"))
        .when(t.isin("tinyint", "smallint", "int", "bigint", "float", "double")
              | t.startswith("decimal"), F.lit("number"))
        .when(t == F.lit("string"), F.lit("string"))
        .when(t == F.lit("boolean"), F.lit("bool"))
        .when(t.startswith("array"), F.lit("array"))
        .when(t.startswith("struct") | t.startswith("map"), F.lit("object"))
        .otherwise(t)
    )
# ---------------------------------------------------------------- variant
# Mixed-type positions (a field holding ints AND strings, heterogeneous
# arrays, bare `$..` node sets) carry Spark's VariantType — the dynamic
# escape hatch from static schemas, mirroring the reference's dynamically
# typed Val (value.rs:22-53).


def to_variant(col: Column, dt: T.DataType | None) -> Column:
    """Any typed column → variant (containers via JSON round-trip,
    scalars via a one-field wrapper so to_json applies)."""
    if isinstance(dt, T.VariantType):
        return col
    if isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
        return F.parse_json(F.to_json(col))
    return vget(F.parse_json(F.to_json(F.struct(col.alias("w")))), "$.w")


def vget(col: Column, path: str) -> Column:
    """variant_get keeping variant type (missing path → null)."""
    return F.try_variant_get(col, path, "variant")


def vcast(col: Column, dt: T.DataType) -> Column:
    """variant → typed value, null on kind mismatch (try semantics —
    jetro cross-family comparison is false, never an error)."""
    return col.try_cast(dt)


def vkind(col: Column) -> Column:
    """variant → jetro kind string (util.rs:424-438 families)."""
    s = F.schema_of_variant(col)
    return (F.when(col.isNull() | F.is_variant_null(col), F.lit("null"))
            .when(s == "BOOLEAN", F.lit("bool"))
            .when(s.startswith("ARRAY"), F.lit("array"))
            .when(s.startswith("OBJECT") | s.startswith("STRUCT"),
                  F.lit("object"))
            .when(s == "STRING", F.lit("string"))
            .otherwise(F.lit("number")))


def vtruthy(col: Column) -> Column:
    """Jetro truthiness over a variant (util.rs:63-74), kind-dispatched
    at runtime."""
    k = vkind(col)
    return (F.when(k == "null", F.lit(False))
            .when(k == "bool", col.try_cast(T.BooleanType()))
            .when(k == "number", col.try_cast(T.DoubleType()) != 0)
            .when(k == "string",
                  F.length(col.try_cast(T.StringType())) > 0)
            .when(k == "array",
                  F.size(col.try_cast(T.ArrayType(T.VariantType()))) > 0)
            .otherwise(F.schema_of_variant(col) != F.lit("OBJECT<>")))


