"""JQL compiler — lowers the jetro expression AST to PySpark Columns.

Document mode: the document root is a struct column (one-row DataFrame);
array pipelines compile to Spark higher-order functions over array<struct>
columns, scalar builtins to the Column builders in jetro_spark.functions.
Catalyst replaces the reference's planner/VM entirely (SURVEY.md §3-4).

Type-directed lowering: every compiled expression carries its static
DataType (`TC`), which drives jetro semantics Spark doesn't share —
truthiness (util.rs:63-74), `+` add/concat dispatch (util.rs:255-276),
cross-family equality → false (util.rs:79-95), missing field ≡ null
(value.rs:282-296) — all resolved at PLAN time, zero runtime dispatch.

Deep search (`$..x`, deep_find/deep_shape/deep_like) is a plan-time
schema walk (SURVEY.md §2.10): the StructType is traversed at compile
time and the result is a union of typed column paths — Catalyst sees
plain field accesses, so pruning/pushdown still apply.

Reference: jetro-core/src/parse/ast.rs (AST), jc/compile/compiler.rs
(their bytecode lowering — replaced by this), jc/builtins/mod.rs:406-434
(builtin registry the METHODS table mirrors).
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jetro_spark.functions import arrays as AR
from jetro_spark.functions import objects as OB
from jetro_spark.functions import strings as S
from jetro_spark.functions.core import (
    elem_at,
    let_,
    jt_cast,
    to_variant,
    vcast,
    vget,
    vkind,
    jt_div,
    jt_element_at_dyn,
    jt_fuzzy_match,
    jt_slice,
    jt_truthy,
    jt_type_of,
)
from jetro_spark.jql import ast as A

NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
           T.FloatType, T.DoubleType, T.DecimalType)


# re-exported from the leaf errors module (r10) so ObjError — raised by
# functions/objects.py, which cannot import this module — subclasses
# the same controlled channel; `from jetro_spark.jql.compiler import
# CompileError` keeps working everywhere
from jetro_spark.errors import CompileError  # noqa: E402,F401


def _family(dt: T.DataType | None) -> str:
    if dt is None:
        return "unknown"
    if isinstance(dt, T.NullType):
        return "null"
    if isinstance(dt, NUMERIC):
        return "number"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.VariantType):
        return "variant"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "object"
    return "unknown"


def is_objrepr(dt: T.DataType | None) -> bool:
    """Ordered-object representation: array<struct<key:string, value:X>>
    (jetro objects are insertion-ordered IndexMaps — value.rs:47; we keep
    group_by/count_by/index_by output ordered the same way)."""
    return (
        isinstance(dt, T.ArrayType)
        and isinstance(dt.elementType, T.StructType)
        and [f.name for f in dt.elementType.fields] == ["key", "value"]
    )


def _ordered_cmp(lt: "TC", rt: "TC", op: str,
                 guard_null: bool = True) -> Column:
    """`< <= > >=` with the reference's totality (util.rs:140-162
    json_cmp_binop): only number/number, string/string and bool/bool are
    order-comparable; every other combination — including cross-kind
    pairs Spark would try to CAST (string vs bigint ANSI-throws at
    runtime, the r7 fuzz catch) and containers — is statically `false`.

    ``guard_null``: in VALUE contexts a Null operand must yield `false`
    (coalesce); in FILTER contexts pass False — Filter already drops
    null predicates, and the bare comparison keeps parquet predicate
    PUSHDOWN alive (coalesce() is not a pushdown-able filter shape)."""
    lf, rf = _family(lt.dtype), _family(rt.dtype)
    known = "unknown" not in (lf, rf) and "variant" not in (lf, rf)
    if known and (lf != rf or lf in ("object", "array", "null")):
        return F.lit(False)
    cmp = {"<": lt.col < rt.col, "<=": lt.col <= rt.col,
           ">": lt.col > rt.col, ">=": lt.col >= rt.col}[op]
    return F.coalesce(cmp, F.lit(False)) if guard_null else cmp


def eq_comparable(a: T.DataType | None, b: T.DataType | None,
                  nested: bool = False) -> bool:
    """Can these two types EVER compare equal under the reference's
    value equality (util.rs vals_eq / val_to_key)? The reference never
    type-errors an equality probe — a cross-kind comparison is simply
    unequal — so the equality-probing builtins (includes, index_of,
    indices_of, remove(value)) lower a provably-mismatched probe to
    their constant "absent" result instead of handing Spark an
    uncoercible comparison (which would CompileError).

    False ONLY when the mismatch is provable: container vs scalar,
    struct field-name sets differing, number vs bool. Unknown/variant
    sides stay True (defer to Spark's coercion, the legacy path).
    TOP-LEVEL string vs number stays True: Spark casts the probe to
    string, which matches val_to_key's integer rendering (floats
    render "3.0" vs Rust's "3" — a documented hairline delta).

    ``nested`` (r12 soak catch): INSIDE a container, a compound value's
    canonical key is its JSON serialization (val_to_key →
    val_to_string, util.rs:216-243), where a string field renders
    QUOTED — so a string field can never equal a number/bool field,
    and the top-level string-vs-number allowance does NOT apply one
    level down. Pre-fix, a struct<k:string> vs struct<k:long> set-op
    membership compiled an eqNullSafe Spark coerced string→bigint:
    doc mode failed analysis, relational mode ANSI-crashed at runtime
    on the first non-numeric key ('g1'). Cross-family scalar FIELDS
    are now provably unequal; int-vs-float fields keep the engine's
    documented numeric-compare convention."""
    fa, fb = _family(a), _family(b)
    if "unknown" in (fa, fb) or "variant" in (fa, fb):
        return True
    if "null" in (fa, fb):
        return True  # null-safe equality decides at runtime
    if fa == "object" and fb == "object":
        if isinstance(a, T.StructType) and isinstance(b, T.StructType):
            an = sorted(f.name for f in a.fields)
            bn = sorted(f.name for f in b.fields)
            if an != bn:
                return False
            bt = {f.name: f.dataType for f in b.fields}
            return all(eq_comparable(f.dataType, bt[f.name], nested=True)
                       for f in a.fields)
        if isinstance(a, T.MapType) and isinstance(b, T.MapType):
            return (eq_comparable(a.keyType, b.keyType, nested=True)
                    and eq_comparable(a.valueType, b.valueType,
                                      nested=True))
        return False  # map vs struct never unifies for equality here
    if fa == "array" and fb == "array":
        return eq_comparable(a.elementType, b.elementType, nested=True)
    if fa != fb and ("object" in (fa, fb) or "array" in (fa, fb)):
        return False
    if {fa, fb} == {"number", "bool"}:
        return False  # val_to_key: "3" vs "true"/"false" — never equal
    if nested and fa != fb:
        return False  # JSON-rendered fields: quoted vs bare never equal
    return True


def unify(dts: list[T.DataType | None]) -> T.DataType | None:
    non_null = [d for d in dts if d is not None and not isinstance(d, T.NullType)]
    if not non_null:
        return T.NullType()
    first = non_null[0]
    if all(d == first for d in non_null):
        return first
    if all(isinstance(d, NUMERIC) for d in non_null):
        if any(isinstance(d, (T.DoubleType, T.FloatType, T.DecimalType)) for d in non_null):
            return T.DoubleType()
        return T.LongType()
    if all(isinstance(d, T.StructType) for d in non_null):
        return union_struct(non_null)
    if all(isinstance(d, T.ArrayType) for d in non_null):
        return T.ArrayType(unify([d.elementType for d in non_null]) or T.NullType())
    return None


def union_struct(sts: list[T.StructType]) -> T.StructType:
    """Union schema by field name, first-seen order, null-padded."""
    out: list[T.StructField] = []
    seen: dict[str, int] = {}
    for st in sts:
        for f in st.fields:
            if f.name in seen:
                u = unify([out[seen[f.name]].dataType, f.dataType])
                out[seen[f.name]] = T.StructField(f.name, u or f.dataType, True)
            else:
                seen[f.name] = len(out)
                out.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(out)


def _probe(dt: T.DataType | None) -> Column:
    """A typed null column used to dry-run type inference for HOF bodies."""
    return F.lit(None).cast(dt) if dt is not None else F.lit(None)


# ----------------------------------------------------- variant deep walk

_VARIANT_DEPTH = 16  # bounded: expression size is linear in the bound
_VMAP = "map<string,variant>"
_VARR = "array<variant>"


def _variant_children(v: Column) -> Column:
    """Child nodes of a runtime variant: object values, array elements,
    or [] for scalars (try_cast dispatches on the runtime kind)."""
    return F.coalesce(
        F.map_values(v.try_cast(_VMAP)),
        v.try_cast(_VARR),
        F.array().cast(_VARR))


def _variant_nodes(v: Column, depth: int) -> Column:
    """Every node of a variant subtree, document pre-order, down to the
    depth bound — the schemaless counterpart of the plan-time schema
    walk (reference walks arbitrary Val trees, exec/structural.rs)."""
    if depth <= 0:
        return F.array(v)
    return F.concat(
        F.array(v),
        F.flatten(F.transform(_variant_children(v),
                              lambda c: _variant_nodes(c, depth - 1))))


def _variant_descend_col(col: Column, name: str,
                         depth: int = _VARIANT_DEPTH) -> Column:
    """``$..name`` over a variant: every object node carrying the key,
    pre-order, as array<variant>. Key presence is tested structurally
    (map_contains_key) so an explicit ``name: null`` is still a hit."""
    maps = F.transform(_variant_nodes(col, depth),
                       lambda n: n.try_cast(_VMAP))
    return F.transform(
        F.filter(maps, lambda m: F.map_contains_key(m, F.lit(name))),
        lambda m: F.element_at(m, F.lit(name)))


@dataclass(frozen=True)
class TC:
    """Typed column. ``row=True`` marks relational row scope where field
    access must compile to a top-level F.col (pushdown-friendly) rather
    than a struct getField. ``doc=True`` marks a document-root value
    (the engine's ``$``, a patch result, a pipe stage carrying one) —
    the receivers on which chain-writes (.set/.modify/.delete/.unset)
    desugar to patches (parser.rs:439-600 Root rule + Phase B's
    pipe/let-alias lifting); on any other receiver they stay plain
    method calls (chain_write.rs phaseb_lambda_body test)."""
    col: Column | None
    dtype: T.DataType | None
    row: bool = False
    doc: bool = False


@dataclass(frozen=True)
class Env:
    """``py_eval`` (engine-provided) evaluates a Column against the
    one-row document frame at compile time — needed only for patch
    guards whose branches have different schemas (guarded field add /
    DELETE), where a runtime `when` can't express per-row presence in
    a static schema."""
    root: TC | None = None
    current: TC | None = None
    locals: dict = dc_field(default_factory=dict)
    py_eval: object = None
    # relational row scope: builds the TC `@` denotes (the pipeline
    # element), while bare identifiers resolve against ``current`` (the
    # row); a new ``current`` is also the new `@`
    at: object = None

    def bind(self, name: str, tc: TC) -> "Env":
        return Env(self.root, self.current, {**self.locals, name: tc},
                   self.py_eval, self.at)

    def with_current(self, tc: TC) -> "Env":
        return Env(self.root, tc, self.locals, self.py_eval)

    def with_root(self, tc: TC) -> "Env":
        return Env(tc, self.current, self.locals, self.py_eval, self.at)


def _no_py_eval(env: Env) -> Env:
    """``env`` for a per-element lambda body: ``py_eval`` evaluates against
    the one-row document frame, where a lambda variable does not
    resolve, so the body compiles as if it had no document context."""
    return dataclasses.replace(env, py_eval=None)


def field_access(tc: TC, name: str) -> TC:
    """Missing field ≡ null (value.rs:282-296); chains keep navigating
    through null producing null."""
    if tc.row:
        st = tc.dtype
        if isinstance(st, T.StructType) and name in st.fieldNames():
            return TC(F.col(name), st[name].dataType)
        return TC(F.lit(None), T.NullType())
    if isinstance(tc.dtype, T.StructType):
        if name in tc.dtype.fieldNames():
            return TC(tc.col.getField(name), tc.dtype[name].dataType)
        return TC(F.lit(None), T.NullType())
    if is_objrepr(tc.dtype):
        val_dt = tc.dtype.elementType["value"].dataType
        # LAST match wins: jetro objects are IndexMaps where a later
        # insert replaces the value (value.rs:47) — entries built by
        # from_pairs / dynamic object literals may carry duplicates
        hit = elem_at(
            F.filter(tc.col, lambda s: s["key"] == F.lit(name)), F.lit(-1))
        return TC(hit["value"], val_dt)
    if isinstance(tc.dtype, T.MapType):
        return TC(tc.col.getItem(name), tc.dtype.valueType)
    if isinstance(tc.dtype, T.VariantType):
        return TC(vget(tc.col, f"$.{name}"), T.VariantType())
    if tc.dtype is None:
        # No fresh TC is ever built with dtype=None (roots come from
        # parquet schemas); propagating None here would poison every
        # downstream truthiness/arith decision — fail loudly instead.
        raise CompileError(
            f"field access .{name} on a value whose type was lost; "
            f"this is a compiler bug — types must flow from the schema")
    if isinstance(tc.dtype, T.NullType):
        return TC(F.lit(None), T.NullType())
    raise CompileError(f"field access .{name} on {_family(tc.dtype)} "
                       f"(use .map({name}) to project over an array)")


class Compiler:
    """One instance per compilation; stateless between calls."""

    # ------------------------------------------------------------ entry

    def compile(self, node: A.Node, env: Env) -> TC:
        m = getattr(self, f"c_{type(node).__name__}", None)
        if m is None:
            raise CompileError(f"unsupported node {type(node).__name__}")
        return m(node, env)

    # -------------------------------------------------------- primaries

    def c_Literal(self, n: A.Literal, env: Env) -> TC:
        v = n.value
        if v is None:
            return TC(F.lit(None), T.NullType())
        if isinstance(v, bool):
            return TC(F.lit(v), T.BooleanType())
        if isinstance(v, int):
            return TC(F.lit(v).cast("long"), T.LongType())
        if isinstance(v, float):
            return TC(F.lit(v), T.DoubleType())
        return TC(F.lit(v), T.StringType())

    def c_Root(self, n: A.Root, env: Env) -> TC:
        if env.root is None:
            raise CompileError("no document bound for $")
        return env.root

    def c_Current(self, n: A.Current, env: Env) -> TC:
        if env.at is not None:
            return env.at()
        if env.current is None:
            raise CompileError("@ outside lambda/pipe context")
        return env.current

    def c_Ident(self, n: A.Ident, env: Env) -> TC:
        if n.name in env.locals:
            return env.locals[n.name]
        if env.current is not None:
            try:
                return field_access(env.current, n.name)
            except CompileError:
                pass
        if env.root is not None:
            try:
                return field_access(env.root, n.name)
            except CompileError:
                pass
        raise CompileError(f"unresolved identifier {n.name!r}")

    def c_FString(self, n: A.FString, env: Env) -> TC:
        parts: list[Column] = []
        for p in n.parts:
            if isinstance(p, str):
                parts.append(F.lit(p))
            else:
                expr, spec = p
                tc = self.compile(expr, env)
                parts.append(self._format(tc, spec))
        return TC(F.concat(*parts) if parts else F.lit(""), T.StringType())

    def _format(self, tc: TC, spec: str | None) -> Column:
        if spec is None:
            return tc.col.cast("string")
        # `.Nf` fixed decimals is the documented spec form (SYNTAX.md §2)
        if spec.startswith(".") and spec.endswith("f"):
            nd = int(spec[1:-1])
            return F.format_string(f"%.{nd}f", tc.col.cast("double"))
        raise CompileError(f"unsupported format spec {spec!r}")

    # ------------------------------------------------------------ unary

    def c_Neg(self, n: A.Neg, env: Env) -> TC:
        tc = self.compile(n.expr, env)
        return TC(-tc.col, tc.dtype)

    def c_Not(self, n: A.Not, env: Env) -> TC:
        tc = self.compile(n.expr, env)
        return TC(~jt_truthy(tc.col, tc.dtype), T.BooleanType())

    def compile_cond(self, node: A.Node, env: Env) -> Column:
        """Compile a predicate for a DataFrame Filter/Join condition.

        Spark's Filter and Join already treat a null condition as false,
        so boolean leaves stay BARE and and/or stay a plain &/| tree:
        the value-context jt_truthy wrapping (coalesce(=, false)) is
        semantically redundant here and actively harmful — it blocks
        Catalyst's ExtractEquiJoinKeys, downgrading hash joins to
        BroadcastNestedLoopJoin. `not` keeps the coercion (jetro
        !null = true, but SQL NOT null = null → row dropped).

        Null-drop equivalence by case: `null and X` → null/false → drop
        either way; `null or true` → true both (3VL); `null or false` →
        null → drop, jetro false → drop."""
        if isinstance(node, A.Binary) and node.op in ("and", "or"):
            l = self.compile_cond(node.left, env)
            r = self.compile_cond(node.right, env)
            return l & r if node.op == "and" else l | r
        if isinstance(node, A.Binary) and node.op in ("<", "<=", ">", ">=", "=="):
            # bare comparison: a null outcome drops the row, exactly the
            # value-context coalesce(cmp, false) → filter behaviour, but
            # pushdown-able and join-key-extractable. `!=` CANNOT be bare
            # (jetro null != x → true; SQL null != x → null → drop).
            lt = self.compile(node.left, env)
            rt = self.compile(node.right, env)
            lt, rt = self._coerce_variant(lt, rt)
            if node.op == "==":
                lf, rf = _family(lt.dtype), _family(rt.dtype)
                if lf == "null" or rf == "null" \
                        or ("unknown" not in (lf, rf) and lf != rf):
                    return self._eq(lt, rt, False).col  # already null-free
                return lt.col == rt.col
            return _ordered_cmp(lt, rt, node.op, guard_null=False)
        tc = self.compile(node, env)
        if isinstance(tc.dtype, T.BooleanType):
            return tc.col
        return jt_truthy(tc.col, tc.dtype)

    # ----------------------------------------------------------- binary

    def c_Binary(self, n: A.Binary, env: Env) -> TC:
        op = n.op
        if op in ("and", "or"):
            lt, rt = self.compile(n.left, env), self.compile(n.right, env)
            lb, rb = jt_truthy(lt.col, lt.dtype), jt_truthy(rt.col, rt.dtype)
            return TC(lb & rb if op == "and" else lb | rb, T.BooleanType())
        lt, rt = self.compile(n.left, env), self.compile(n.right, env)
        lt, rt = self._coerce_variant(lt, rt)
        if op == "+":
            return self._add(lt, rt)
        if op in ("-", "*", "/", "%"):
            # num_op (util.rs) is numeric-only: any other operand kind
            # is a language error (EvalError). Statically typed, we
            # surface it at compile time on the same controlled channel
            # instead of letting Spark's ANSI cast throw at runtime.
            # Null stays permitted (a null operand nulls the result).
            for side in (lt, rt):
                fam = _family(side.dtype)
                if fam not in ("number", "null", "unknown", "variant"):
                    raise CompileError(
                        f"operator {op} not supported on {fam} operands "
                        "(numeric only — util.rs num_op)")
            if op == "-":
                return TC(lt.col - rt.col, unify([lt.dtype, rt.dtype]))
            if op == "*":
                return TC(lt.col * rt.col, unify([lt.dtype, rt.dtype]))
            if op == "/":
                return TC(jt_div(lt.col, rt.col), T.DoubleType())
            return TC(lt.col % rt.col, unify([lt.dtype, rt.dtype]))
        if op == "~=":
            return TC(F.coalesce(jt_fuzzy_match(lt.col, rt.col), F.lit(False)), T.BooleanType())
        if op in ("==", "!="):
            return self._eq(lt, rt, op == "!=")
        if op in ("<", "<=", ">", ">="):
            return TC(_ordered_cmp(lt, rt, op), T.BooleanType())
        raise CompileError(f"unsupported operator {op}")

    def _add(self, lt: TC, rt: TC) -> TC:
        """`+`: numeric add, string concat, or array concat — any OTHER
        combination is a language error (add_vals, util.rs:255-276
        `_ => Err`), surfaced at compile time. Null/unknown/variant
        sides stay on the lenient path (runtime-typed)."""
        lf, rf = _family(lt.dtype), _family(rt.dtype)
        loose = ("null", "unknown", "variant")
        if "string" in (lf, rf) and all(
                f in ("string",) + loose for f in (lf, rf)):
            return TC(F.concat(lt.col.cast("string"), rt.col.cast("string")), T.StringType())
        if lf == "array" and rf == "array":
            return TC(F.concat(lt.col, rt.col), unify([lt.dtype, rt.dtype]))
        if not all(f in ("number",) + loose for f in (lf, rf)):
            raise CompileError(
                f"operator + not supported between {lf} and {rf} "
                "(add_vals: numeric add, string concat, array concat only)")
        return TC(lt.col + rt.col, unify([lt.dtype, rt.dtype]))

    @staticmethod
    def _coerce_variant(lt: TC, rt: TC) -> tuple[TC, TC]:
        """One side variant + other side concretely typed → try_cast the
        variant to the concrete type (kind mismatch → null → false under
        predicate coercion, which IS jetro's cross-family answer)."""
        lf, rf = _family(lt.dtype), _family(rt.dtype)
        if lf == "variant" and rf not in ("variant", "null", "unknown"):
            return TC(vcast(lt.col, rt.dtype), rt.dtype), rt
        if rf == "variant" and lf not in ("variant", "null", "unknown"):
            return lt, TC(vcast(rt.col, lt.dtype), lt.dtype)
        return lt, rt

    def _eq(self, lt: TC, rt: TC, negated: bool) -> TC:
        """Cross-numeric equality works, cross-family → false, never null
        (util.rs:79-95,140-168)."""
        lt, rt = self._coerce_variant(lt, rt)
        if _family(lt.dtype) == "variant" and _family(rt.dtype) == "variant":
            base = F.coalesce(F.to_json(lt.col) == F.to_json(rt.col),
                              F.lit(False))
            return TC(~base if negated else base, T.BooleanType())
        lf, rf = _family(lt.dtype), _family(rt.dtype)
        if lf == "null" or rf == "null":
            # x == null ⇔ x is null (Val::Null equality)
            other = rt if lf == "null" else lt
            base = other.col.isNull() if not (lf == "null" and rf == "null") else F.lit(True)
        elif "unknown" not in (lf, rf) and lf != rf:
            base = F.lit(False)
        else:
            base = F.coalesce(lt.col == rt.col, F.lit(False))
        return TC(~base if negated else base, T.BooleanType())

    def c_Has(self, n: A.Has, env: Env) -> TC:
        # `x has y` / `y in x` desugar to includes_apply — same totality
        lt, rt = self.compile(n.left, env), self.compile(n.right, env)
        return _membership(lt, rt)

    def c_Coalesce(self, n: A.Coalesce, env: Env) -> TC:
        lt, rt = self.compile(n.left, env), self.compile(n.right, env)
        return TC(F.coalesce(lt.col, rt.col), unify([lt.dtype, rt.dtype]))

    def c_KindCheck(self, n: A.KindCheck, env: Env) -> TC:
        """Static types make kind checks mostly plan-time constants; only
        nullability stays dynamic (a null string column is kind null)."""
        tc = self.compile(n.expr, env)
        fam = _family(tc.dtype)
        if fam == "variant":
            base = vkind(tc.col) == F.lit(n.kind)
        elif n.kind == "null":
            base = tc.col.isNull() if fam != "null" else F.lit(True)
        elif fam == "unknown":
            base = jt_type_of(tc.col) == F.lit(n.kind)
        elif fam == n.kind:
            base = tc.col.isNotNull()
        else:
            base = F.lit(False)
        return TC(~base if n.negated else base, T.BooleanType())

    def c_Cast(self, n: A.Cast, env: Env) -> TC:
        tc = self.compile(n.expr, env)
        out = {
            "int": T.LongType(), "float": T.DoubleType(), "number": T.DoubleType(),
            "string": T.StringType(), "bool": T.BooleanType(), "null": T.NullType(),
        }.get(n.target)
        if n.target == "array":
            out = tc.dtype if isinstance(tc.dtype, T.ArrayType) else T.ArrayType(
                tc.dtype or T.NullType())
        if n.target == "object":
            return tc
        return TC(jt_cast(tc.col, n.target, tc.dtype), out)

    def c_Ternary(self, n: A.Ternary, env: Env) -> TC:
        # dead-branch elimination on statically-decidable conditions
        # (kind checks against known types) — the reference const-folds
        # ternaries too (INDEPTH.md:216), and this is what lets a
        # type-dispatching walk lambda compile per node type
        st = self._static_truth(n.cond, env)
        if st is True:
            return self.compile(n.then, env)
        if st is False:
            return self.compile(n.other, env)
        c = self.compile(n.cond, env)
        a, b = self.compile(n.then, env), self.compile(n.other, env)
        return TC(F.when(jt_truthy(c.col, c.dtype), a.col).otherwise(b.col),
                  unify([a.dtype, b.dtype]))

    def _static_truth(self, node: A.Node, env: Env) -> bool | None:
        """True/False when the condition is decidable at plan time, else
        None. Kind checks against a mismatched static family are always
        false (a matched family is only 'true unless null' → dynamic)."""
        if isinstance(node, A.Literal):
            if isinstance(node.value, bool):
                return node.value
            return None
        if isinstance(node, A.Not):
            inner = self._static_truth(node.expr, env)
            return None if inner is None else not inner
        if isinstance(node, A.KindCheck):
            try:
                fam = _family(self.compile(node.expr, env).dtype)
            except CompileError:
                return None
            res: bool | None = None
            if fam == "unknown":
                res = None
            elif node.kind == "null":
                res = True if fam == "null" else None
            elif fam == "null":
                res = False
            elif fam != node.kind:
                res = False
            if res is None:
                return None
            return (not res) if node.negated else res
        if isinstance(node, A.Binary) and node.op in ("<", "<=", ">", ">="):
            # mirror _ordered_cmp's totality: a cross-kind (or
            # container/null) ordered comparison is CONSTANT false —
            # statically decidable, so a schema-changing guarded patch
            # clause compiles instead of demanding py_eval (r10 soak
            # catch: `{v: 0.0 when @.v > 40.0}` over an imploded array
            # column was a one-sided PatchError vs doc mode's false)
            try:
                lf = _family(self.compile(node.left, env).dtype)
                rf = _family(self.compile(node.right, env).dtype)
            except CompileError:
                return None
            known = "unknown" not in (lf, rf) and "variant" not in (lf, rf)
            if known and (lf != rf or lf in ("object", "array", "null")):
                return False
            return None
        return None

    def c_Try(self, n: A.Try, env: Env) -> TC:
        """`try BODY else DEFAULT` catches errors AND null (ast.rs:143-150).
        Errors are avoided at lowering time (try_cast/try_element_at/
        try_divide), so null-coalescing covers both. A body that fails to
        COMPILE (e.g. field access on wrong family) is a static error in
        jetro too — but deep chains on missing fields yield null, not
        errors, so compile failures fall back to the default arm."""
        try:
            body = self.compile(n.body, env)
        except CompileError:
            return self.compile(n.default, env)
        dflt = self.compile(n.default, env)
        return TC(F.coalesce(body.col, dflt.col), unify([body.dtype, dflt.dtype]))

    # ------------------------------------------------------------- path

    def c_Path(self, n: A.Path, env: Env) -> TC:
        tc = self.compile(n.base, env)
        rewritten = self._chain_write(tc, n, env)
        if rewritten is not None:
            return rewritten
        for step in n.steps:
            tc = self.step(tc, step, env)
        return tc

    # chain-write terminal methods (parser.rs:482-516 is_terminal_write)
    _TERMINAL_WRITES = {"set", "modify", "delete", "unset", "merge",
                        "deep_merge"}

    def _chain_write(self, base_tc: TC, n: A.Path, env: Env) -> TC | None:
        """Desugar `$.a.b.set(v)` / `.modify(λ)` / `.delete()` /
        `.unset(k)` / `.merge(o)` / `.deep_merge(o)` into a Patch when
        the receiver is a document root (reference: parse-time rewrite
        for `$`-rooted chains, parser.rs:439-600; pipe/let-alias roots
        via Phase B fusion — here both are just `TC.doc`). Returns None
        to fall back to the plain method call (e.g. inside lambdas —
        chain_write.rs phaseb_lambda_body_writes_dont_leak_outside)."""
        if not base_tc.doc or not n.steps:
            return None
        last = n.steps[-1]
        if not isinstance(last, A.Method) or last.name not in self._TERMINAL_WRITES:
            return None
        # navigation prefix → patch path steps (first must be a field:
        # it becomes the clause root)
        psteps: list[A.PatchStep] = []
        for s in n.steps[:-1]:
            if isinstance(s, A.Field):
                psteps.append(A.PatchStep("field", name=s.name))
            elif isinstance(s, A.Index):
                iv = _const(s.expr)
                if isinstance(iv, int):
                    psteps.append(A.PatchStep("index", index=iv))
                else:
                    psteps.append(A.PatchStep("index", dyn=s.expr))
            elif isinstance(s, A.Descendant) and s.name:
                psteps.append(A.PatchStep("descendant", name=s.name))
            else:
                return None
        name, args = last.name, last.args
        if name == "set":
            if len(args) != 1:
                return None  # 2-arg set = the object builtin
            value: A.Node = args[0].value
        elif name == "modify":
            if len(args) != 1:
                return None
            v = args[0].value
            if isinstance(v, A.Lambda) and v.params:
                value = A.Let(v.params[0], A.Current(), v.body)
            elif isinstance(v, A.Lambda):
                value = v.body
            else:
                value = v
        elif name == "delete":
            if args:
                return None
            value = A.Delete()
        elif name == "unset":
            if len(args) != 1:
                return None
            k = args[0].value
            key = k.value if isinstance(k, A.Literal) and isinstance(k.value, str) \
                else k.name if isinstance(k, A.Ident) else None
            if key is None:
                return None
            psteps.append(A.PatchStep("field", name=key))
            value = A.Delete()
        else:  # merge / deep_merge in place: value = @.merge(arg)
            if len(args) != 1:
                return None
            value = A.Path(A.Current(), [A.Method(name, [args[0]])])
        from jetro_spark.jql.patch import _apply_clause
        if not psteps:
            return None
        if psteps[0].kind != "field":
            # root-level descendant/wildcard write ($..id.delete()):
            # wrap the doc in a synthetic field so the clause machinery
            # (which is rooted at a field name) applies unchanged
            wcol = F.struct(base_tc.col.alias("__root"))
            wdt = T.StructType([T.StructField("__root", base_tc.dtype, True)])
            clause = A.PatchClause("__root", psteps, value, None)
            col, dt = _apply_clause(self, wcol, wdt, clause, env,
                                    TC(wcol, wdt, doc=True))
            return TC(col.getField("__root"), dt["__root"].dataType, doc=True)
        clause = A.PatchClause(psteps[0].name, psteps[1:], value, None)
        col, dt = _apply_clause(self, base_tc.col, base_tc.dtype, clause,
                                env, base_tc)
        return TC(col, dt, doc=True)

    def c_Patch(self, n: A.Patch, env: Env) -> TC:
        from jetro_spark.jql.patch import compile_patch
        return compile_patch(self, n, env)

    def step(self, tc: TC, step: A.Node, env: Env) -> TC:
        if isinstance(step, A.Field):
            return field_access(tc, step.name)
        if isinstance(step, A.DynField):
            key = self.compile(step.expr, env)
            if is_objrepr(tc.dtype):
                val_dt = tc.dtype.elementType["value"].dataType
                hit = elem_at(
                    F.filter(tc.col, lambda s: s["key"] == key.col), F.lit(1))
                return TC(hit["value"], val_dt)
            if isinstance(tc.dtype, T.MapType):
                return TC(tc.col.getItem(key.col), tc.dtype.valueType)
            if isinstance(tc.dtype, T.StructType):
                # runtime key over a static struct → CASE over its
                # fields, values unified (regression.rs dyn_field_*)
                vdt = unify([f.dataType for f in tc.dtype.fields]) \
                    or T.StringType()
                out: Column = F.lit(None).cast(vdt)
                for f_ in reversed(tc.dtype.fields):
                    out = F.when(key.col.cast("string") == F.lit(f_.name),
                                 tc.col.getField(f_.name).cast(vdt)) \
                        .otherwise(out)
                return TC(out, vdt)
            if isinstance(tc.dtype, T.ArrayType) \
                    and _family(key.dtype) == "number":
                # dynamic index form `$.items.{i}` (grammar.pest:85)
                return TC(jt_element_at_dyn(tc.col, key.col),
                          tc.dtype.elementType)
            raise CompileError("dynamic field on non-object")
        if isinstance(step, A.Index):
            if isinstance(tc.dtype, T.StructType) and tc.dtype.fields \
                    and all(f.name == f"__p{i}"
                            for i, f in enumerate(tc.dtype.fields)):
                # positional tuple (entries()/mixed-type zip pairs):
                # e[0] / e[-1] → field by position
                iv = _const(step.expr)
                if isinstance(iv, int):
                    fs = tc.dtype.fields
                    f_ = fs[iv] if -len(fs) <= iv < len(fs) else None
                    if f_ is None:
                        return TC(F.lit(None), T.NullType())
                    return TC(tc.col.getField(f_.name), f_.dataType)
            idx = self.compile(step.expr, env)
            if is_objrepr(tc.dtype) and _family(idx.dtype) == "string":
                # object[key] lookup (SYNTAX.md §9 index_by example)
                val_dt = tc.dtype.elementType["value"].dataType
                hit = elem_at(
                    F.filter(tc.col, lambda s: s["key"] == idx.col), F.lit(1))
                return TC(hit["value"], val_dt)
            if isinstance(tc.dtype, T.VariantType):
                # variant holding an array: index via cast to
                # array<variant> (negative indices supported)
                arr = vcast(tc.col, T.ArrayType(T.VariantType()))
                return TC(jt_element_at_dyn(arr, idx.col), T.VariantType())
            elem = tc.dtype.elementType if isinstance(tc.dtype, T.ArrayType) else None
            return TC(jt_element_at_dyn(tc.col, idx.col), elem)
        if isinstance(step, A.Slice):
            if _family(tc.dtype) == "string":
                return TC(S.str_slice(tc.col, step.start, step.stop), T.StringType())
            return TC(jt_slice(tc.col, step.start, step.stop), tc.dtype)
        if isinstance(step, A.InlineFilter):
            elem = tc.dtype.elementType if isinstance(tc.dtype, T.ArrayType) else None
            pred = self._pred(step.pred, env, elem)
            return TC(F.filter(tc.col, pred), tc.dtype)
        if isinstance(step, A.Quantifier):
            # vm/exec.rs:776-790: `?` on Arr → first-or-null; `!` on Arr
            # → unwrap iff exactly one, error otherwise; non-arrays (and
            # objects — Val::Obj, not Arr) pass through. Null-safety of
            # `?` is otherwise free: nulls propagate.
            if is_objrepr(tc.dtype) or not isinstance(tc.dtype, T.ArrayType):
                return tc
            elem_dt = tc.dtype.elementType
            if step.mark == "?":
                return TC(elem_at(tc.col, 1), elem_dt)
            msg = F.concat(
                F.lit("quantifier !: expected exactly one element, got "),
                F.size(tc.col).cast("string"))
            return TC(
                F.when(F.size(tc.col) == 1, F.element_at(tc.col, F.lit(1)))
                .otherwise(F.raise_error(msg)),
                elem_dt)
        if isinstance(step, A.MapShape):
            elem = tc.dtype.elementType if isinstance(tc.dtype, T.ArrayType) else None
            arr = tc.col
            if step.pred is not None:
                arr = F.filter(arr, self._pred(step.pred, env, elem))
            fn, out_dt = self._lam(step.shape, env, elem)
            return TC(F.transform(arr, fn), T.ArrayType(out_dt or T.NullType()))
        if isinstance(step, A.Descendant):
            return self.descend(tc, step.name, env)
        if isinstance(step, A.DeepMethod):
            return self.deep_method(tc, step, env)
        if isinstance(step, A.Method):
            return self.call(tc, step.name, step.args, env)
        raise CompileError(f"unsupported path step {type(step).__name__}")

    # ------------------------------------------------- lambda machinery

    def _lam(self, node: A.Node, env: Env, elem_dt: T.DataType | None,
             extra: dict | None = None):
        """Per-element body: (fn(Column)->Column, out_dtype).

        Inside a method arg, bare identifiers resolve to fields of the
        current element (SYNTAX.md §6: `filter(price > 10)`); an explicit
        `lambda x:` / `x =>` binds its param instead."""
        if isinstance(node, A.Lambda):
            params, body = node.params, node.body
        else:
            params, body = [], node
        env = _no_py_eval(env)

        def env_for(x: Column) -> Env:
            e = env.with_current(TC(x, elem_dt))
            for p in params[:1]:
                e = e.bind(p, TC(x, elem_dt))
            if extra:
                for k, v in extra.items():
                    e = e.bind(k, v)
            return e

        out_dt = self.compile(body, env_for(_probe(elem_dt))).dtype

        def fn(x: Column) -> Column:
            return self.compile(body, env_for(x)).col

        return fn, out_dt

    def _lam2(self, node: A.Node, env: Env, dt_a, dt_b):
        """Two-arg lambda body (accumulate): (fn(a, b)->Column, out_dtype)."""
        if not isinstance(node, A.Lambda) or len(node.params) != 2:
            raise CompileError("expected a two-parameter lambda")
        pa, pb = node.params
        env = _no_py_eval(env)

        def env_for(a: Column, b: Column) -> Env:
            return env.bind(pa, TC(a, dt_a)).bind(pb, TC(b, dt_b))

        out_dt = self.compile(node.body, env_for(_probe(dt_a), _probe(dt_b))).dtype

        def fn(a: Column, b: Column) -> Column:
            return self.compile(node.body, env_for(a, b)).col

        return fn, out_dt

    def _pred(self, node: A.Node, env: Env, elem_dt: T.DataType | None):
        fn, dt = self._lam(node, env, elem_dt)
        return lambda x: jt_truthy(fn(x), dt)

    # ------------------------------------------------------ constructors

    def c_ObjLit(self, n: A.ObjLit, env: Env) -> TC:
        """Object literal (7 field forms, SYNTAX.md §13).

        Static objects → struct (insertion-ordered, value.rs:47): typed,
        codegen-friendly, the scale path. Objects with per-row-varying
        KEY SETS — `[dyn]: v` dynamic keys, `k?:`/`k?` omit-null, `when`
        guards — cannot be a fixed-schema struct; they compile to the
        ordered objrepr (array<struct<key,value>>) where omitted fields
        are genuinely absent (reference drops the key, ast.rs:336-357)."""
        dynamic = any(
            f.kind in ("dyn", "opt", "opt_v")
            or (f.kind == "kv" and f.guard is not None)
            for f in n.fields)
        if dynamic:
            return self._objlit_dynamic(n, env)
        fused = self._objlit_fuse_writes(n, env)
        cols: list[Column] = []
        fields: list[T.StructField] = []
        for f in n.fields:
            if f.kind == "kv":
                tc = fused.get(id(f)) or self.compile(f.value, env)
                cols.append(tc.col.alias(f.key))
                fields.append(T.StructField(f.key, tc.dtype or T.NullType(), True))
            elif f.kind == "short":
                tc = self.c_Ident(A.Ident(f.key), env)
                cols.append(tc.col.alias(f.key))
                fields.append(T.StructField(f.key, tc.dtype or T.NullType(), True))
            elif f.kind in ("spread", "spread_deep"):
                tc = self.compile(f.value, env)
                if not isinstance(tc.dtype, T.StructType):
                    raise CompileError("...spread of non-object")
                for sf in tc.dtype.fields:
                    cols.append(tc.col.getField(sf.name).alias(sf.name))
                    fields.append(T.StructField(sf.name, sf.dataType, True))
            else:
                raise CompileError(f"unsupported object field kind {f.kind}")
        # later duplicate keys win (IndexMap::insert semantics); for
        # ...**deep spreads a struct-vs-struct collision merges recursively
        # instead of replacing wholesale
        deep_keys = {
            sf.name
            for f in n.fields if f.kind == "spread_deep"
            for sf in self.compile(f.value, env).dtype.fields}
        dedup: dict[str, int] = {}
        out_c, out_f = [], []
        for c, sf in zip(cols, fields):
            if sf.name in dedup:
                i = dedup[sf.name]
                old_f = out_f[i]
                if (sf.name in deep_keys
                        and isinstance(old_f.dataType, T.StructType)
                        and isinstance(sf.dataType, T.StructType)):
                    mc, mdt = OB.deep_merge(out_c[i], old_f.dataType,
                                           c, sf.dataType)
                    out_c[i] = mc.alias(sf.name)
                    out_f[i] = T.StructField(sf.name, mdt, True)
                else:
                    out_c[i] = c
                    out_f[i] = sf
            else:
                dedup[sf.name] = len(out_c)
                out_c.append(c)
                out_f.append(sf)
        return TC(F.struct(*out_c), T.StructType(out_f))

    def _objlit_dynamic(self, n: A.ObjLit, env: Env) -> TC:
        """Dynamic-key-set object → ordered entries. Each field yields a
        nullable struct<key,value> slot; null slots (failed `when`, null
        `k?:`) are filtered out, so the key is truly absent. Static-key
        duplicates resolve last-wins at build; runtime duplicates (dyn
        keys) resolve last-wins on read (objrepr field access)."""
        slots: list[tuple[object, Column, T.DataType]] = []  # (key, slot, vdt)
        for f in n.fields:
            if f.kind in ("kv", "opt_v"):
                tc = self.compile(f.value, env)
                key = F.lit(f.key)
                slot = F.struct(key.alias("key"), tc.col.alias("value"))
                if f.kind == "opt_v":
                    slot = F.when(tc.col.isNotNull(), slot)
                if f.guard is not None:
                    g = self.compile(f.guard, env)
                    slot = F.when(jt_truthy(g.col, g.dtype), slot)
                slots.append((f.key, slot, tc.dtype or T.NullType()))
            elif f.kind in ("short", "opt"):
                tc = self.c_Ident(A.Ident(f.key), env)
                slot = F.struct(F.lit(f.key).alias("key"), tc.col.alias("value"))
                if f.kind == "opt":
                    slot = F.when(tc.col.isNotNull(), slot)
                slots.append((f.key, slot, tc.dtype or T.NullType()))
            elif f.kind == "dyn":
                ktc = self.compile(f.key, env)
                vtc = self.compile(f.value, env)
                slot = F.struct(ktc.col.cast("string").alias("key"),
                                vtc.col.alias("value"))
                slots.append((None, slot, vtc.dtype or T.NullType()))
            elif f.kind in ("spread", "spread_deep"):
                tc = self.compile(f.value, env)
                if is_objrepr(tc.dtype):
                    vdt = tc.dtype.elementType["value"].dataType
                    slots.append((Ellipsis, tc.col, vdt))
                    continue
                if not isinstance(tc.dtype, T.StructType):
                    raise CompileError("...spread of non-object")
                for sf in tc.dtype.fields:
                    slot = F.struct(F.lit(sf.name).alias("key"),
                                    tc.col.getField(sf.name).alias("value"))
                    slots.append((sf.name, slot, sf.dataType))
            else:
                raise CompileError(f"unsupported object field kind {f.kind}")
        # static-key last-wins: drop earlier slots shadowed by a later
        # static key (dyn/spread-objrepr keys resolve on read)
        seen: set[str] = set()
        keep: list[tuple[object, Column, T.DataType]] = []
        for key, slot, vdt in reversed(slots):
            if isinstance(key, str):
                if key in seen:
                    continue
                seen.add(key)
            keep.append((key, slot, vdt))
        keep.reverse()
        vdt = unify([v for _, _, v in keep]) or T.StringType()
        out_dt = T.ArrayType(T.StructType([
            T.StructField("key", T.StringType(), True),
            T.StructField("value", vdt, True)]), False)
        parts: list[Column] = []
        for key, slot, _ in keep:
            if key is Ellipsis:  # objrepr spread: already an entries array
                parts.append(F.transform(slot, lambda s: F.struct(
                    s["key"].alias("key"),
                    s["value"].cast(vdt).alias("value"))))
            else:
                parts.append(F.array(F.struct(
                    slot["key"].alias("key"),
                    slot["value"].cast(vdt).alias("value"))))
        arr = F.concat(*parts) if parts else F.array()
        # drop omitted slots (their struct is null)
        arr = F.filter(arr, lambda s: s.isNotNull() & s["key"].isNotNull())
        return TC(arr, out_dt)

    def _objlit_fuse_writes(self, n: A.ObjLit, env: Env) -> dict:
        """Phase-B object fusion (chain_write.rs phaseb_object_field_*):
        when ≥2 object fields are `$`-rooted writes and NO other field
        reads `$`, the writes batch against one shared doc — every write
        field then sees the post-batch document (each write applies
        once, in source order). A root-reading sibling field disables
        fusion (it must observe the pre-write doc). Returns a map
        id(field) → TC of the post-batch doc for the fused fields."""
        if env.root is None or not env.root.doc:
            return {}
        write_fields = [f for f in n.fields
                        if f.kind in ("kv", "opt_v") and f.guard is None
                        and self._is_root_write(f.value)]
        if len(write_fields) < 2:
            return {}
        for f in n.fields:
            if f not in write_fields and self._reads_root(
                    f.value if f.kind in ("kv", "opt_v", "spread") else None):
                return {}
        acc = env.root
        for f in write_fields:
            acc = self.compile(f.value, env.with_root(acc).with_current(acc))
        return {id(f): acc for f in write_fields}

    def _reads_root(self, node) -> bool:
        if node is None:
            return False
        if isinstance(node, A.Root):
            return True
        for v in vars(node).values():
            vals = v if isinstance(v, (list, tuple)) else [v]
            for x in vals:
                if isinstance(x, A.Node) and self._reads_root(x):
                    return True
                if isinstance(x, tuple):  # f-string parts
                    for y in x:
                        if isinstance(y, A.Node) and self._reads_root(y):
                            return True
        return False

    def c_ArrLit(self, n: A.ArrLit, env: Env) -> TC:
        pieces: list[Column] = []
        dts: list[T.DataType | None] = []
        for e in n.elems:
            tc = self.compile(e.expr, env)
            if e.spread:
                pieces.append(tc.col)
                if isinstance(tc.dtype, T.ArrayType):
                    dts.append(tc.dtype.elementType)
            else:
                pieces.append(F.array(tc.col))
                dts.append(tc.dtype)
        if not pieces:
            return TC(F.array(), T.ArrayType(T.NullType()))
        elem = unify(dts)
        arr = F.concat(*pieces) if len(pieces) > 1 else pieces[0]
        return TC(arr, T.ArrayType(elem or T.NullType()))

    # ------------------------------------------------------ let / lambda

    def c_Let(self, n: A.Let, env: Env) -> TC:
        return self.compile(n.body, env.bind(n.name, self.compile(n.value, env)))

    def c_Lambda(self, n: A.Lambda, env: Env) -> TC:
        raise CompileError("lambda outside method-argument position")

    # ---------------------------------------------------- comprehensions

    def c_Comp(self, n: A.Comp, env: Env) -> TC:
        if n.gens and len(n.gens) > 1:
            return self._comp_multi(n, env)
        src = self.compile(n.source, env)
        if is_objrepr(src.dtype) or isinstance(src.dtype, T.StructType):
            src = self._entries(src)  # `for k, v in obj`
        if not isinstance(src.dtype, T.ArrayType):
            raise CompileError("comprehension source must be an array/object")
        elem = src.dtype.elementType

        def bind_vars(x: Column) -> Env:
            e = env.with_current(TC(x, elem))
            if len(n.vars) == 1:
                e = e.bind(n.vars[0], TC(x, elem))
            else:  # 2-var (k, v) over entries
                e = e.bind(n.vars[0], TC(x["key"], T.StringType()))
                e = e.bind(n.vars[1], field_access(TC(x, elem), "value"))
            return e

        arr = src.col
        if n.cond is not None:
            def pred(x: Column) -> Column:
                tc = self.compile(n.cond, bind_vars(x))
                return jt_truthy(tc.col, tc.dtype)
            arr = F.filter(arr, pred)

        def value_fn(x: Column) -> Column:
            return self.compile(n.value, bind_vars(x)).col

        out_dt = self.compile(n.value, bind_vars(_probe(elem))).dtype
        if n.kind in ("list", "gen"):
            return TC(F.transform(arr, value_fn), T.ArrayType(out_dt or T.NullType()))
        if n.kind == "set":
            return TC(F.array_distinct(F.transform(arr, value_fn)),
                      T.ArrayType(out_dt or T.NullType()))
        if n.kind == "dict":
            def kv_fn(x: Column) -> Column:
                e = bind_vars(x)
                k = self.compile(n.key, e).col.cast("string")
                return F.struct(k.alias("key"), self.compile(n.value, e).col.alias("value"))
            return TC(F.transform(arr, kv_fn),
                      T.ArrayType(T.StructType([
                          T.StructField("key", T.StringType(), True),
                          T.StructField("value", out_dt or T.NullType(), True)])))
        raise CompileError(f"unsupported comprehension kind {n.kind}")

    def _comp_multi(self, n: A.Comp, env: Env) -> TC:
        """Multi-generator comprehension = cartesian product of the
        generators (cross-join via nested comprehensions, reference
        INDEPTH.md:260-279). Lowered as nested F.transform with one
        F.flatten per non-leaf level; the trailing `if` and the value
        are evaluated at the innermost level with every var bound —
        later sources may reference earlier vars (`for li in o.items`)."""
        gens = n.gens

        def bind(vars_: list[str], x: Column, elem: T.DataType, e: Env) -> Env:
            e = e.with_current(TC(x, elem))
            if len(vars_) == 1:
                return e.bind(vars_[0], TC(x, elem))
            e = e.bind(vars_[0], TC(x["key"], T.StringType()))
            return e.bind(vars_[1], field_access(TC(x, elem), "value"))

        def build(level: int, e: Env) -> TC:
            vars_, src_node = gens[level]
            src = self.compile(src_node, e)
            if is_objrepr(src.dtype) or isinstance(src.dtype, T.StructType):
                src = self._entries(src)
            if not isinstance(src.dtype, T.ArrayType):
                raise CompileError("comprehension source must be an array/object")
            elem = src.dtype.elementType
            if level == len(gens) - 1:
                arr = src.col
                if n.cond is not None:
                    def pred(x: Column) -> Column:
                        tc = self.compile(n.cond, bind(vars_, x, elem, e))
                        return jt_truthy(tc.col, tc.dtype)
                    arr = F.filter(arr, pred)
                if n.kind == "dict":
                    out_dt = self.compile(
                        n.value, bind(vars_, _probe(elem), elem, e)).dtype
                    def kv_fn(x: Column) -> Column:
                        be = bind(vars_, x, elem, e)
                        k = self.compile(n.key, be).col.cast("string")
                        return F.struct(
                            k.alias("key"),
                            self.compile(n.value, be).col.alias("value"))
                    return TC(F.transform(arr, kv_fn), T.ArrayType(T.StructType([
                        T.StructField("key", T.StringType(), True),
                        T.StructField("value", out_dt or T.NullType(), True)])))
                out_dt = self.compile(
                    n.value, bind(vars_, _probe(elem), elem, e)).dtype
                return TC(
                    F.transform(arr, lambda x: self.compile(
                        n.value, bind(vars_, x, elem, e)).col),
                    T.ArrayType(out_dt or T.NullType()))
            inner_dt = build(
                level + 1, bind(vars_, _probe(elem), elem, e)).dtype
            def inner_fn(x: Column) -> Column:
                # null inner arrays (e.g. missing o.items) contribute no
                # rows; without the coalesce one null would null the
                # whole flatten
                return F.coalesce(
                    build(level + 1, bind(vars_, x, elem, e)).col,
                    F.array().cast(inner_dt))
            return TC(F.flatten(F.transform(src.col, inner_fn)), inner_dt)

        out = build(0, env)
        if n.kind == "set":
            return TC(F.array_distinct(out.col), out.dtype)
        return out

    def _entries(self, tc: TC) -> TC:
        """Object → ordered entries array<struct<key,value>>."""
        if is_objrepr(tc.dtype):
            return tc
        if isinstance(tc.dtype, T.StructType):
            vdt = unify([f.dataType for f in tc.dtype.fields]) or T.StringType()
            entries = [
                F.struct(F.lit(f.name).alias("key"),
                         tc.col.getField(f.name).cast(vdt).alias("value"))
                for f in tc.dtype.fields
            ]
            return TC(F.array(*entries), T.ArrayType(T.StructType([
                T.StructField("key", T.StringType(), True),
                T.StructField("value", vdt, True)])))
        raise CompileError("entries on non-object")

    # ---------------------------------------------------------- pipeline

    def c_Pipe(self, n: A.Pipe, env: Env) -> TC:
        acc = self.compile(n.base, env)
        cur_env = env
        for s in n.steps:
            if isinstance(s, A.PipeBind):
                cur_env = self._bind_pipe(acc, s, cur_env)
                continue
            expr = s.expr if isinstance(s, A.PipeForward) else s
            acc = self._pipe_apply(acc, expr, cur_env)
        return acc

    def _bind_pipe(self, acc: TC, b: A.PipeBind, env: Env) -> Env:
        if b.kind == "ident":
            return env.bind(b.names[0], acc)
        if b.kind == "obj":
            for name in b.names:
                env = env.bind(name, field_access(acc, name))
            if b.rest is not None:
                if not isinstance(acc.dtype, T.StructType):
                    raise CompileError("...rest destructure of non-object")
                rest_fields = [f for f in acc.dtype.fields if f.name not in b.names]
                rest = TC(
                    F.struct(*[acc.col.getField(f.name).alias(f.name) for f in rest_fields]),
                    T.StructType(rest_fields))
                env = env.bind(b.rest, rest)
            return env
        # arr destructure
        elem = acc.dtype.elementType if isinstance(acc.dtype, T.ArrayType) else None
        for i, name in enumerate(b.names):
            env = env.bind(name, TC(elem_at(acc.col, i + 1), elem))
        return env

    def _pipe_apply(self, acc: TC, expr: A.Node, env: Env) -> TC:
        """RHS of `|`: method call on piped value, zero-arg method name,
        or any expression with @ bound (SYNTAX.md §10)."""
        if isinstance(expr, A.GlobalCall) and expr.name in METHODS:
            return self.call(acc, expr.name, expr.args, env.with_current(acc))
        if isinstance(expr, A.Ident) and expr.name in METHODS:
            return self.call(acc, expr.name, [], env.with_current(acc))
        if acc.doc and self._is_root_write(expr):
            # Phase-B pipe fusion (chain_write.rs phaseb_pipe_chain_*): a
            # `$`-rooted write stage following a patched doc applies to the
            # rolled value, so `$.a.set(1) | $.b.set(2)` accumulates both
            # writes instead of re-patching the original document.
            env = env.with_root(acc)
        return self.compile(expr, env.with_current(acc))

    def _is_root_write(self, expr: A.Node) -> bool:
        if isinstance(expr, A.Patch):
            return isinstance(expr.target, A.Root)
        if isinstance(expr, A.Path) and isinstance(expr.base, A.Root) and expr.steps:
            last = expr.steps[-1]
            return isinstance(last, A.Method) and last.name in self._TERMINAL_WRITES
        return False

    def c_PipeForward(self, n: A.PipeForward, env: Env) -> TC:
        return self.compile(n.expr, env)

    # ------------------------------------------------------ global calls

    def c_GlobalCall(self, n: A.GlobalCall, env: Env) -> TC:
        name, args = n.name, n.args
        if name == "coalesce":
            tcs = [self.compile(a.value, env) for a in args]
            return TC(F.coalesce(*[t.col for t in tcs]), unify([t.dtype for t in tcs]))
        if name == "chain":
            tcs = [self.compile(a.value, env) for a in args]
            return TC(F.concat(*[t.col for t in tcs]), unify([t.dtype for t in tcs]))
        if name == "product":
            a = self.compile(args[0].value, env)
            b = self.compile(args[1].value, env)
            ea = a.dtype.elementType if isinstance(a.dtype, T.ArrayType) else None
            eb = b.dtype.elementType if isinstance(b.dtype, T.ArrayType) else None
            pair_dt = T.ArrayType(unify([ea, eb]) or T.NullType())
            return TC(
                F.flatten(F.transform(a.col, lambda x: F.transform(
                    b.col, lambda y: F.array(x, y)))),
                T.ArrayType(pair_dt))
        if name in ("type_of", "type"):
            tc = self.compile(args[0].value, env)
            return self.call(tc, "type", [], env)
        if name == "range":
            # range(stop) / range(start, stop) / range(start, stop, step);
            # wrong-direction or zero step → [] (regression.rs range_*)
            tcs = [self.compile(a.value, env) for a in args]
            if len(tcs) == 1:
                start, stop, step = F.lit(0), tcs[0].col, F.lit(1)
            elif len(tcs) == 2:
                start, stop, step = tcs[0].col, tcs[1].col, F.lit(1)
            else:
                start, stop, step = tcs[0].col, tcs[1].col, tcs[2].col
            start, stop, step = (c.cast("long") for c in (start, stop, step))
            n_ = F.when(step != 0,
                        F.greatest(F.lit(0), F.ceil((stop - start) / step)))\
                 .otherwise(F.lit(0)).cast("long")
            idx = F.filter(F.sequence(F.lit(1), F.greatest(n_, F.lit(1))),
                           lambda i: i <= n_)
            return TC(F.transform(idx, lambda i: start + (i - 1) * step),
                      T.ArrayType(T.LongType()))
        if name in METHODS and args:
            recv = self.compile(args[0].value, env)
            return self.call(recv, name, args[1:], env)
        raise CompileError(f"unknown function {name}")

    # ------------------------------------------------------- deep search
    # Plan-time schema walk (SURVEY.md §2.10): the StructType is traversed
    # at compile time; the emitted plan is a concat of typed field paths.
    # Reference: ops/array.rs:619-806, exec/structural.rs (their runtime
    # bitmap index — unnecessary here because schemas are static).

    def descend(self, tc: TC, name: str | None, env: Env) -> TC:
        if name is None:
            return self._descend_all(tc)
        if isinstance(tc.dtype, T.VariantType):
            # schemaless document: bounded-depth runtime walk
            return TC(_variant_descend_col(tc.col, name),
                      T.ArrayType(T.VariantType()))
        if tc.dtype is None:
            raise CompileError("deep search requires a statically-known schema")
        leaf_dts: list[T.DataType] = []
        self._collect_leaf_types(tc.dtype, name, leaf_dts)
        if not leaf_dts:
            return TC(F.array(), T.ArrayType(T.NullType()))
        out = unify(leaf_dts)
        if out is None:
            # conflicting leaf types ({x: 1} vs {x: "s"}) keep their
            # dynamic kind through variant instead of a lossy string cast
            out = T.VariantType()
        arr = self._descend_col(tc.col, tc.dtype, name, out)
        return TC(arr, T.ArrayType(out))

    def _descend_all(self, tc: TC) -> TC:
        """Bare `$..` — EVERY node of the subtree (containers and
        leaves), document pre-order, as array<variant>: a heterogeneous
        node set has no static schema, so each node round-trips through
        variant (the dynamic escape hatch). Downstream steps (inline
        filters, field access, quantifiers) run kind-dispatched over
        variant. Reference: SYNTAX.md:99-104, exec/structural.rs."""
        if tc.dtype is None:
            raise CompileError("deep search requires a statically-known schema")
        if isinstance(tc.dtype, T.VariantType):
            return TC(_variant_nodes(tc.col, _VARIANT_DEPTH),
                      T.ArrayType(T.VariantType()))

        def nodes(col: Column, dt: T.DataType) -> Column:
            parts = [F.array(to_variant(col, dt))]
            if isinstance(dt, T.StructType):
                for f in dt.fields:
                    parts.append(nodes(col.getField(f.name), f.dataType))
            elif isinstance(dt, T.ArrayType):
                per_elem = F.flatten(F.transform(
                    col, lambda x: nodes(x, dt.elementType)))
                parts.append(F.coalesce(
                    per_elem, F.array().cast("array<variant>")))
            elif isinstance(dt, T.VariantType):
                # the node itself is parts[0]; recurse into its children
                parts.append(F.flatten(F.transform(
                    _variant_children(col),
                    lambda c: _variant_nodes(c, _VARIANT_DEPTH - 1))))
            return F.concat(*parts)

        return TC(nodes(tc.col, tc.dtype), T.ArrayType(T.VariantType()))

    def _has_descend_hits(self, dt: T.DataType, name: str) -> bool:
        """Schema-only: does the subtree contain a `name` field (or a
        variant, which may at runtime)? Mirrors what _descend_col
        returning non-None means, without building any probe Columns —
        calling _descend_col for the test doubled the compile walk at
        every array nesting level."""
        if isinstance(dt, T.StructType):
            return any(f.name == name or self._has_descend_hits(f.dataType, name)
                       for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return self._has_descend_hits(dt.elementType, name)
        return isinstance(dt, T.VariantType)

    def _collect_leaf_types(self, dt: T.DataType, name: str, out: list) -> None:
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                if f.name == name:
                    out.append(f.dataType)
                self._collect_leaf_types(f.dataType, name, out)
        elif isinstance(dt, T.ArrayType):
            self._collect_leaf_types(dt.elementType, name, out)
        elif isinstance(dt, T.VariantType):
            # a variant subtree may contain `name` anywhere at runtime
            out.append(T.VariantType())

    def _descend_col(self, col: Column, dt: T.DataType, name: str,
                     out: T.DataType) -> Column:
        """DFS pre-order array of every `name` field value below col."""
        empty = F.array().cast(T.ArrayType(out).simpleString())
        if isinstance(dt, T.VariantType):
            hits = _variant_descend_col(col, name)
            if not isinstance(out, T.VariantType):
                hits = F.transform(hits, lambda h: h.try_cast(out))
            return hits
        if isinstance(dt, T.StructType):
            pieces: list[Column] = []
            for f in dt.fields:
                v = col.getField(f.name)
                if f.name == name:
                    if isinstance(out, T.VariantType):
                        pieces.append(F.array(to_variant(v, f.dataType)))
                    else:
                        pieces.append(F.array(v.cast(out.simpleString())))
                sub = self._descend_col(v, f.dataType, name, out)
                if sub is not None:
                    pieces.append(sub)
            if not pieces:
                return None
            return F.concat(*pieces) if len(pieces) > 1 else pieces[0]
        if isinstance(dt, T.ArrayType):
            ed = dt.elementType
            if not self._has_descend_hits(ed, name):
                return None
            # last-level extraction: array<struct> whose ONLY hits are
            # the elements' direct `name` field → GetArrayStructFields
            # (whole-stage codegen) instead of an interpreted per-element
            # transform — same values, same order, same null handling
            # (null element → null entry, exactly like array(e.name))
            if (isinstance(ed, T.StructType)
                    and not isinstance(out, T.VariantType)
                    and any(f.name == name for f in ed.fields)
                    and not any(self._has_descend_hits(f.dataType, name)
                                for f in ed.fields)):
                return col.getField(name).cast(
                    T.ArrayType(out).simpleString())
            return F.flatten(F.transform(
                col, lambda e: F.coalesce(
                    self._descend_col(e, dt.elementType, name, out), empty)))
        return None

    def deep_method(self, tc: TC, step: A.DeepMethod, env: Env) -> TC:
        if step.name in ("find", "deep_find"):
            preds = [a.value for a in step.args]
            return self._deep_find(tc, preds, env)
        if step.name in ("shape", "deep_shape"):
            keys = self._shape_keys(step.args)
            return self._deep_nodes(tc, keys, None, env)
        if step.name in ("like", "deep_like"):
            if len(step.args) != 1 or not isinstance(step.args[0].value, A.ObjLit):
                raise CompileError("deep_like expects an object literal")
            obj = step.args[0].value
            keys = [f.key for f in obj.fields]
            return self._deep_nodes(tc, keys, obj, env)
        if step.name in METHODS:
            # `$..x.method()` parses as DeepMethod(x is separate) — here the
            # name IS a builtin applied to a bare `$..` which we don't do.
            raise CompileError(f"deep method {step.name} not supported")
        raise CompileError(f"unknown deep method {step.name}")

    def _shape_keys(self, args: list[A.Arg]) -> list[str]:
        keys = []
        for a in args:
            v = a.value
            if isinstance(v, A.ObjLit):
                keys.extend(f.key for f in v.fields)
            elif isinstance(v, A.Ident):
                keys.append(v.name)
            elif isinstance(v, A.Literal) and isinstance(v.value, str):
                keys.append(v.value)
            else:
                raise CompileError("deep_shape expects key names")
        return keys

    def _pred_fields(self, node: A.Node, out: set) -> None:
        """Field names a deep_find predicate dereferences off @ — used to
        exclude, at PLAN time, struct shapes that can never match."""
        if isinstance(node, A.Path) and isinstance(node.base, A.Current):
            if node.steps and isinstance(node.steps[0], A.Field):
                out.add(node.steps[0].name)
            return
        if isinstance(node, A.Ident):
            out.add(node.name)
            return
        for v in vars(node).values() if hasattr(node, "__dict__") else []:
            if isinstance(v, A.Node):
                self._pred_fields(v, out)
            elif isinstance(v, list):
                for x in v:
                    if isinstance(x, A.Node):
                        self._pred_fields(x, out)
                    elif isinstance(x, A.Arg):
                        self._pred_fields(x.value, out)

    def _struct_nodes(self, dt: T.DataType, required: set[str]) -> list[T.StructType]:
        """All struct shapes in the schema containing every required key."""
        found: list[T.StructType] = []

        def walk(d: T.DataType) -> None:
            if isinstance(d, T.StructType):
                if required <= set(d.fieldNames()):
                    found.append(d)
                for f in d.fields:
                    walk(f.dataType)
            elif isinstance(d, T.ArrayType):
                walk(d.elementType)

        walk(dt)
        return found

    def _deep_collect(self, col: Column, dt: T.DataType, want, cast_to: T.StructType,
                      match_fn) -> Column | None:
        """Concat of matching descendant objects, each cast to the union
        schema, filtered by match_fn(elem_col, struct_dt) -> Column|None."""
        out_dt = T.ArrayType(cast_to)
        empty = F.array().cast(out_dt.simpleString())

        def pad(c: Column, st: T.StructType) -> Column:
            names = set(st.fieldNames())
            return F.struct(*[
                (c.getField(f.name).cast(f.dataType.simpleString())
                 if f.name in names else F.lit(None).cast(f.dataType.simpleString())
                 ).alias(f.name)
                for f in cast_to.fields])

        def shape_of(st: T.StructType):
            return [(f.name, f.dataType.simpleString()) for f in st.fields]

        cast_shape = shape_of(cast_to)

        def wants_subtree(d: T.DataType) -> bool:
            """Schema-only: would rec(d) produce any pieces? (linear —
            never builds probe Columns, unlike calling rec itself, which
            would double the compile walk at every nesting level)"""
            if isinstance(d, T.StructType):
                return want(d) or any(wants_subtree(f.dataType)
                                      for f in d.fields)
            if isinstance(d, T.ArrayType):
                return wants_subtree(d.elementType)
            return False

        def filterable(ed: T.DataType) -> bool:
            """Array elements that ARE the (only-shaped) candidate, with
            no deeper candidates inside: matching elements pass through
            BY REFERENCE via F.filter instead of being rebuilt
            field-by-field through when(m, array(struct(...))) — on the
            narrow deep-find benchmark that struct copy per element was
            ~3x the whole query."""
            return (isinstance(ed, T.StructType) and want(ed)
                    and shape_of(ed) == cast_shape
                    and not any(wants_subtree(f.dataType)
                                for f in ed.fields))

        def rec(c: Column, d: T.DataType) -> Column | None:
            pieces: list[Column] = []
            if isinstance(d, T.StructType):
                if want(d):
                    m = match_fn(c, d)
                    piece = F.array(pad(c, d))
                    if m is not None:
                        piece = F.when(m, piece).otherwise(empty)
                    pieces.append(piece)
                for f in d.fields:
                    sub = rec(c.getField(f.name), f.dataType)
                    if sub is not None:
                        pieces.append(sub)
            elif isinstance(d, T.ArrayType):
                ed = d.elementType
                if filterable(ed):
                    m = match_fn(_probe(ed), ed) if isinstance(ed, T.StructType) else None
                    if m is None:
                        pieces.append(c)
                    else:
                        pieces.append(F.filter(
                            c, lambda e: match_fn(e, ed)))
                elif wants_subtree(ed):
                    pieces.append(F.flatten(F.transform(
                        c, lambda e: F.coalesce(rec(e, ed), empty))))
            if not pieces:
                return None
            return F.concat(*pieces) if len(pieces) > 1 else pieces[0]

        return rec(col, dt)

    def _deep_find(self, tc: TC, preds: list[A.Node], env: Env) -> TC:
        required: set[str] = set()
        for p in preds:
            self._pred_fields(p, required)
        candidates = self._struct_nodes(tc.dtype, required)
        if not candidates:
            return TC(F.array(), T.ArrayType(T.NullType()))
        union = union_struct(candidates)
        cand_keys = {tuple(st.fieldNames()) for st in candidates}

        def want(st: T.StructType) -> bool:
            return tuple(st.fieldNames()) in cand_keys

        def match(c: Column, st: T.StructType) -> Column:
            conds = []
            for p in preds:
                fn, dt = self._lam(p, env, st)
                conds.append(jt_truthy(fn(c), dt))
            out = conds[0]
            for x in conds[1:]:
                out = out & x
            return out

        arr = self._deep_collect(tc.col, tc.dtype, want, union, match)
        return TC(arr if arr is not None else F.array(), T.ArrayType(union))

    def _deep_nodes(self, tc: TC, keys: list[str], like: A.ObjLit | None,
                    env: Env) -> TC:
        candidates = self._struct_nodes(tc.dtype, set(keys))
        if not candidates:
            return TC(F.array(), T.ArrayType(T.NullType()))
        union = union_struct(candidates)
        cand_keys = {tuple(st.fieldNames()) for st in candidates}

        def want(st: T.StructType) -> bool:
            return tuple(st.fieldNames()) in cand_keys

        def match(c: Column, st: T.StructType):
            if like is None:
                return None
            conds = []
            for f in like.fields:
                lit = self.compile(f.value, env)
                fv = field_access(TC(c, st), f.key)
                conds.append(self._eq(fv, lit, False).col)
            out = conds[0]
            for x in conds[1:]:
                out = out & x
            return out

        arr = self._deep_collect(tc.col, tc.dtype, want, union, match)
        return TC(arr if arr is not None else F.array(), T.ArrayType(union))

    # ------------------------------------------- tree transforms (§2.10)

    def walk(self, recv: TC, lam_node: A.Node, env: Env, pre: bool) -> TC:
        """walk(λ) post-order / walk_pre(λ) pre-order recursive transform
        of every node — a plan-time schema recursion; the λ is compiled
        once per distinct node TYPE, dead branches eliminated by
        _static_truth. Reference: ops/array.rs:693-740 walk_apply."""

        def apply(c: Column, d: T.DataType):
            fn, odt = self._lam(lam_node, env, d)
            return fn(c), (odt if odt is not None and not isinstance(odt, T.NullType) else d)

        def rec(c: Column, d: T.DataType):
            if pre:
                c, d = apply(c, d)
            if isinstance(d, T.StructType):
                cols, fields = [], []
                for f in d.fields:
                    nc, nd = rec(c.getField(f.name), f.dataType)
                    cols.append(nc.alias(f.name))
                    fields.append(T.StructField(f.name, nd, True))
                c, d = F.struct(*cols), T.StructType(fields)
            elif isinstance(d, T.ArrayType):
                ed = d.elementType
                _, ndt = rec(_probe(ed), ed)
                c, d = F.transform(c, lambda e: rec(e, ed)[0]), T.ArrayType(ndt)
            if not pre:
                c, d = apply(c, d)
            return c, d

        return TC(*rec(recv.col, recv.dtype))

    def trace_path(self, recv: TC, pred_node: A.Node, env: Env) -> TC:
        """{path, value} rows for every node whose predicate is truthy;
        paths are `$.field[idx]` strings (array indices dynamic, field
        names plan-time constants). Reference: ops/array.rs:759-806."""
        # value type = union over node types where the pred isn't
        # statically impossible to satisfy; string fallback when mixed
        dts: list[T.DataType] = []

        def collect_types(d: T.DataType) -> None:
            dts.append(d)
            if isinstance(d, T.StructType):
                for f in d.fields:
                    collect_types(f.dataType)
            elif isinstance(d, T.ArrayType):
                collect_types(d.elementType)

        collect_types(recv.dtype)
        scalar_dts = [d for d in dts if not isinstance(d, (T.StructType, T.ArrayType))]
        vdt = unify(scalar_dts) or T.StringType()
        row_dt = T.StructType([T.StructField("path", T.StringType(), True),
                               T.StructField("value", vdt, True)])
        out_dt = T.ArrayType(row_dt)
        empty = F.array().cast(out_dt.simpleString())

        def node_piece(c: Column, d: T.DataType, path: Column) -> Column:
            fn, pdt = self._lam(pred_node, env, d)
            try:
                cond = jt_truthy(fn(c), pdt)
            except Exception:  # λ not applicable to this node type
                return empty
            if isinstance(d, (T.StructType, T.ArrayType)):
                val = F.lit(None).cast(vdt.simpleString())
            else:
                val = c.cast(vdt.simpleString())
            row = F.struct(path.alias("path"), val.alias("value"))
            return F.when(cond, F.array(row)).otherwise(empty)

        def rec(c: Column, d: T.DataType, path: Column) -> Column:
            pieces = [node_piece(c, d, path)]
            if isinstance(d, T.StructType):
                for f in d.fields:
                    pieces.append(rec(c.getField(f.name), f.dataType,
                                      F.concat(path, F.lit(f".{f.name}"))))
            elif isinstance(d, T.ArrayType):
                ed = d.elementType
                idx = AR._seq0(F.size(c))
                pieces.append(F.flatten(F.zip_with(
                    c, idx,
                    lambda e, i: rec(e, ed, F.concat(
                        path, F.lit("["), i.cast("string"), F.lit("]"))))))
            return F.concat(*pieces) if len(pieces) > 1 else pieces[0]

        return TC(rec(recv.col, recv.dtype, F.lit("$")), out_dt)

    def schema_desc(self, recv: TC) -> TC:
        """schema(): structural schema descriptor — a plan-time constant
        here (static schemas). {type, fields, required} for objects,
        {type, items} for arrays. Reference: ops/schema.rs:219 schema_of
        (their runtime inference; ours is free)."""

        def desc(d: T.DataType):
            if isinstance(d, T.StructType):
                fcols = [desc(f.dataType)[0].alias(f.name) for f in d.fields]
                fdts = T.StructType([
                    T.StructField(f.name, desc(f.dataType)[1], True) for f in d.fields])
                col = F.struct(
                    F.lit("Object").alias("type"),
                    F.array(*[F.lit(f.name) for f in d.fields]).alias("required"),
                    F.struct(*fcols).alias("fields"))
                return col, T.StructType([
                    T.StructField("type", T.StringType(), True),
                    T.StructField("required", T.ArrayType(T.StringType()), True),
                    T.StructField("fields", fdts, True)])
            if isinstance(d, T.ArrayType):
                icol, idt = desc(d.elementType)
                return (F.struct(F.lit("Array").alias("type"), icol.alias("items")),
                        T.StructType([T.StructField("type", T.StringType(), True),
                                      T.StructField("items", idt, True)]))
            name = {"number": "Float", "string": "Str", "bool": "Bool",
                    "null": "Null"}.get(_family(d), "Unknown")
            if isinstance(d, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
                name = "Int"
            return (F.struct(F.lit(name).alias("type")),
                    T.StructType([T.StructField("type", T.StringType(), True)]))

        return TC(*desc(recv.dtype))

    # -------------------------------------------------------- method call

    def call(self, recv: TC, name: str, args: list[A.Arg], env: Env) -> TC:
        handler = METHODS.get(name)
        if handler is None:
            raise CompileError(f"unknown builtin {name!r}")
        return handler(self, recv, args, env)


# ---------------------------------------------------------------------------
# builtin dispatch table — mirrors jc/builtins/mod.rs:406-434 (registry);
# aliases per registry.rs:384-388.
# ---------------------------------------------------------------------------


def _const(node: A.Node):
    if isinstance(node, A.Literal):
        return node.value
    if isinstance(node, A.Neg) and isinstance(node.expr, A.Literal):
        return -node.expr.value
    return None


def _const_int(args: list[A.Arg], i: int, default=None):
    if i >= len(args):
        return default
    v = _const(args[i].value)
    if not isinstance(v, int):
        raise CompileError("expected integer literal argument")
    return v


def _const_str(args: list[A.Arg], i: int, default=None):
    if i >= len(args):
        return default
    v = _const(args[i].value)
    if not isinstance(v, str):
        raise CompileError("expected string literal argument")
    return v


def _elem(recv: TC) -> T.DataType | None:
    return recv.dtype.elementType if isinstance(recv.dtype, T.ArrayType) else None


def _arr_out(recv: TC) -> T.DataType:
    return recv.dtype if isinstance(recv.dtype, T.ArrayType) else T.ArrayType(T.NullType())


def comparator_desc(lam: A.Lambda) -> bool:
    """Direction of a two-param comparator sort: the canonical
    `(a, b) => a < b` shapes (either operand order, strict or not) are a
    natural sort, descending when they compare the other way; anything
    else is rejected loudly. Shared by both compilers."""
    body = lam.body
    if not (isinstance(body, A.Binary) and body.op in ("<", "<=", ">", ">=")
            and isinstance(body.left, A.Ident)
            and isinstance(body.right, A.Ident)
            and {body.left.name, body.right.name} == set(lam.params)):
        raise CompileError(
            "comparator sort supports only `(a, b) => a < b` shapes; "
            "use sort(key) / sort(-key) for key-based ordering")
    asc_ops = ("<", "<=") if body.left.name == lam.params[0] else (">", ">=")
    return body.op not in asc_ops


def _sort_args(self: Compiler, recv: TC, args: list[A.Arg], env: Env):
    """sort() natural; sort(key) asc; sort(-key) desc; multi-key;
    sort((a, b) => a < b) comparator form — Spark's array_sort has no
    general comparator for mixed use with our null ordering, so the two
    canonical shapes lower to direction flags (regression.rs
    arrow_lambda_multi_param); anything fancier is rejected loudly."""
    if not args:
        return None, False
    if (len(args) == 1 and isinstance(args[0].value, A.Lambda)
            and len(args[0].value.params) == 2):
        return [(lambda x: x, comparator_desc(args[0].value))], True
    keyspecs = []
    for a in args:
        node, desc = a.value, False
        if isinstance(node, A.Neg):
            node, desc = node.expr, True
        fn, _ = self._lam(node, env, _elem(recv))
        keyspecs.append((fn, desc))
    return keyspecs, True


def m_filter(self, recv, args, env):
    return TC(F.filter(recv.col, self._pred(args[0].value, env, _elem(recv))),
              recv.dtype)


def _bare_field_path(node, env) -> list | None:
    """['customer','address','city'] when a map body is a pure nested
    field path over the element — `map(customer.address.city)`,
    `map(total)`, or `map(x => x.a.b)` — else None. A leading bare
    identifier shadowed by a `let`/lambda binding is NOT an element
    field and disqualifies the rewrite."""
    if isinstance(node, A.Lambda):
        if len(node.params) != 1:
            return None
        p, b = node.params[0], node.body
        if (isinstance(b, A.Path) and isinstance(b.base, A.Ident)
                and b.base.name == p and b.steps
                and all(type(s) is A.Field for s in b.steps)):
            return [s.name for s in b.steps]
        return None
    if isinstance(node, A.Ident):
        names = [node.name]
    elif (isinstance(node, A.Path) and isinstance(node.base, A.Ident)
          and all(type(s) is A.Field for s in node.steps)):
        names = [node.base.name] + [s.name for s in node.steps]
    else:
        return None
    if names[0] in env.locals:
        return None
    return names


def _struct_path_dtype(elem_dt, names) -> T.DataType | None:
    """Result dtype of following ``names`` through nested StructTypes;
    None when any hop is not a plain struct field (missing fields and
    objrepr objects keep the general HOF path and its null semantics)."""
    dt = elem_dt
    for nm in names:
        if not isinstance(dt, T.StructType) or nm not in dt.fieldNames():
            return None
        dt = dt[nm].dataType
    return dt


def _struct_path_nullable(elem_dt, names) -> bool:
    """Can following ``names`` yield null for a NON-NULL element? True
    iff any hop's field is nullable (r14 — feeds the mapped array's
    containsNull claim so provably-non-null projections skip
    null-collision scaffolding downstream)."""
    dt = elem_dt
    for nm in names:
        if dt[nm].nullable:
            return True
        dt = dt[nm].dataType
    return False


def m_map(self, recv, args, env):
    # Pure field-path projection lowers to chained GetArrayStructFields
    # instead of a transform() lambda: HOFs are CodegenFallback
    # (interpreted per element, no codegen), while array-struct field
    # extraction is a codegen'd built-in — ~3x faster on the bench_lock
    # map queries and identical in null semantics (null elements stay
    # null at their position in both forms).
    if isinstance(recv.dtype, T.ArrayType) and not is_objrepr(recv.dtype):
        names = _bare_field_path(args[0].value, env)
        if names is not None:
            out_dt = _struct_path_dtype(recv.dtype.elementType, names)
            if out_dt is not None:
                col = recv.col
                for nm in names:
                    col = col.getField(nm)
                # exact containsNull claim: a mapped element is null
                # only when the source element was null or a hop's
                # field is nullable (r14)
                cn = (recv.dtype.containsNull or _struct_path_nullable(
                    recv.dtype.elementType, names))
                return TC(col, T.ArrayType(out_dt, cn))
    fn, dt = self._lam(args[0].value, env, _elem(recv))
    return TC(F.transform(recv.col, fn), T.ArrayType(dt or T.NullType()))


def m_flat_map(self, recv, args, env):
    # same field-path fast path as m_map when the projected field is
    # itself an array (`flat_map(items)` ≡ flatten(orders.items))
    if isinstance(recv.dtype, T.ArrayType) and not is_objrepr(recv.dtype):
        names = _bare_field_path(args[0].value, env)
        if names is not None:
            out_dt = _struct_path_dtype(recv.dtype.elementType, names)
            if isinstance(out_dt, T.ArrayType):
                col = recv.col
                for nm in names:
                    col = col.getField(nm)
                return TC(F.flatten(col), out_dt)
    fn, dt = self._lam(args[0].value, env, _elem(recv))
    inner = dt.elementType if isinstance(dt, T.ArrayType) else T.NullType()
    return TC(F.flatten(F.transform(recv.col, fn)), T.ArrayType(inner))


def m_take(self, recv, args, env):
    return TC(AR.take(recv.col, _const_int(args, 0)), recv.dtype)


def m_skip(self, recv, args, env):
    return TC(AR.skip(recv.col, _const_int(args, 0)), recv.dtype)


def m_take_while(self, recv, args, env):
    return TC(AR.take_while(recv.col, self._lam(args[0].value, env, _elem(recv))[0]),
              recv.dtype)


def m_drop_while(self, recv, args, env):
    return TC(AR.drop_while(recv.col, self._lam(args[0].value, env, _elem(recv))[0]),
              recv.dtype)


def m_first(self, recv, args, env):
    # n == 1 (default OR explicit) unwraps to a scalar, Null when empty
    # — first_apply's n == 1 branch (collection.rs:344-354); r7 soak fix
    n = _const_int(args, 0)
    if n is None or n == 1:
        return TC(AR.first(recv.col), _elem(recv))
    return TC(AR.first(recv.col, n), recv.dtype)


def m_last(self, recv, args, env):
    n = _const_int(args, 0)
    if n is None or n == 1:  # last_apply n == 1 scalar unwrap
        return TC(AR.last(recv.col), _elem(recv))
    return TC(AR.last(recv.col, n), recv.dtype)


def m_nth(self, recv, args, env):
    return TC(AR.nth(recv.col, _const_int(args, 0)), _elem(recv))


def m_find_first(self, recv, args, env):
    return TC(AR.find_first(recv.col, self._pred(args[0].value, env, _elem(recv))),
              _elem(recv))


def m_find_index(self, recv, args, env):
    return TC(AR.find_index(recv.col, self._pred(args[0].value, env, _elem(recv))),
              T.LongType())


def m_indices_where(self, recv, args, env):
    return TC(AR.indices_where(recv.col, self._pred(args[0].value, env, _elem(recv))),
              T.ArrayType(T.LongType()))


def m_sort(self, recv, args, env):
    keyspecs, keyed = _sort_args(self, recv, args, env)
    if not keyed:
        return TC(AR.sort(recv.col), recv.dtype)
    col = recv.col
    # multi-key: stable sort by each key from last to first
    for fn, desc in reversed(keyspecs):
        col = AR.sort(col, key=fn, desc=desc)
    return TC(col, recv.dtype)


def m_reverse(self, recv, args, env):
    return TC(F.reverse(recv.col), recv.dtype)  # array AND string


def m_unique(self, recv, args, env):
    el = _elem(recv)
    if _family(el) == "string":
        # unique_arr_apply keys by val_to_key (collection.rs:77-86): a
        # NULL element keys "null" and merges with the literal string
        # "null" — first occurrence (and its actual value, null-ness
        # intact) wins. For strings that is the ONLY key collision
        # (string keys are otherwise the identity), so stay LINEAR:
        # native array_distinct, then when BOTH null and "null" made
        # it through, drop whichever first occurred LATER in the
        # source (r13 — the first cut routed all string arrays through
        # the O(n²) unique_by scan and turned bl_q2's 20k-element
        # unique into ~4·10⁸ interpreted lambda evals).
        #
        # r14: when the array type PROVES no null element can exist
        # (containsNull=false — e.g. split()/collect_list results,
        # non-null literals), the null/"null" collision is impossible
        # and plain array_distinct IS unique_arr_apply; skip the
        # exists/array_position scaffolding entirely (it cost bl_q2
        # 1.12x -> 1.48x vs the reference baseline in r13).
        if (isinstance(recv.dtype, T.ArrayType)
                and not recv.dtype.containsNull):
            return TC(AR.unique(recv.col), recv.dtype)
        from jetro_spark.functions.arrays import let_

        def fix(arr):
            def inner(d):
                # d is let_-bound: HOF lambdas have no CSE, so an
                # unbound array_distinct would re-run per reference
                has_both = (F.array_contains(d, "null")
                            & F.exists(d, lambda x: x.isNull()))
                # positions evaluate lazily — only the has_both branch
                # of the CASE reaches them (the rare collision case)
                pos_lit = F.array_position(
                    F.transform(arr, lambda x: F.coalesce(
                        x == F.lit("null"), F.lit(False))), F.lit(True))
                pos_null = F.array_position(
                    F.transform(arr, lambda x: x.isNull()), F.lit(True))
                return (F.when(~F.coalesce(has_both, F.lit(False)), d)
                        .when(pos_lit < pos_null,
                              F.filter(d, lambda x: x.isNotNull()))
                        .otherwise(F.array_remove(d, F.lit("null"))))

            return let_(F.array_distinct(arr), inner)

        return TC(let_(recv.col, fix), recv.dtype)
    if _family(el) == "variant":
        # VARIANT elements (heterogeneous post-union arrays) have no
        # native equality at all — the canonical key IS the only
        # comparison; the O(n²) scan is confined to these mixed
        # arrays, which are per-document union results, never a
        # table-scale column (r13)
        return TC(AR.unique_by(recv.col, _key_lam(lambda x: x, el)),
                  recv.dtype)
    return TC(AR.unique(recv.col), recv.dtype)


def m_unique_by(self, recv, args, env):
    fn, dt = self._lam(args[0].value, env, _elem(recv))
    if _family(dt) in ("string", "null", "variant"):
        # key lambda results key via val_to_key (array.rs:273-292): a
        # null key renders "null" and merges with the literal (r13)
        return TC(AR.unique_by(recv.col, _key_lam(fn, dt)), recv.dtype)
    return TC(AR.unique_by(recv.col, fn), recv.dtype)


def m_compact(self, recv, args, env):
    return TC(AR.compact(recv.col), recv.dtype)


def m_flatten(self, recv, args, env):
    n = _const_int(args, 0, 1)
    col, dt = recv.col, recv.dtype
    for _ in range(n):
        col = F.flatten(col)
        dt = dt.elementType if isinstance(dt, T.ArrayType) else dt
    return TC(col, dt if isinstance(dt, T.ArrayType) else T.ArrayType(T.NullType()))


def m_append(self, recv, args, env):
    v = self.compile(args[0].value, env)
    return TC(AR.append(recv.col, v.col), recv.dtype)


def m_prepend(self, recv, args, env):
    v = self.compile(args[0].value, env)
    return TC(AR.prepend(recv.col, v.col), recv.dtype)


def m_remove(self, recv, args, env):
    node = args[0].value
    # value-or-pred: ONLY a lambda is a per-element predicate
    # (mod.rs:2557-2562 — every other argument shape is
    # BuiltinArgs::Val, evaluated ONCE in the enclosing env via
    # static_arg_val; r13 — paths like remove($.missing) were wrongly
    # classified as predicates and removed nothing)
    if not isinstance(node, A.Lambda):
        # value form (BuiltinArgs::Val, defs.rs:159): object/array
        # literals and path/field expressions are VALUES evaluated
        # once, not per-element predicates
        v = self.compile(node, env)
        el = _elem(recv)
        if _key_collide(el, v.dtype):
            # canonical-key comparison, keeping the element type
            # (remove_value_apply keys by val_to_key,
            # collection.rs:395-405 — same collision classes as the
            # set ops: a null target keys "null" and removes literal
            # "null" strings, a string "[1,2]" removes array [1,2])
            pr = F.coalesce(_canon_str(v.col, v.dtype), F.lit("null"))
            return TC(F.filter(
                recv.col,
                lambda x: F.coalesce(_canon_str(x, el),
                                     F.lit("null")) != pr), recv.dtype)
        if not eq_comparable(el, v.dtype):
            # cross-kind target removes nothing (remove_value_apply
            # compares canonical keys — never a type error)
            return recv
        # null-SAFE equality, not array_remove: a null target keys
        # "null" and removes null elements (val_to_key), while
        # array_remove's native comparison yields null on null operands
        # and removes nothing (r13)
        probe = _reorder_struct_probe(v, _elem(recv))
        return TC(F.filter(recv.col, lambda x: ~x.eqNullSafe(probe)),
                  recv.dtype)
    return TC(AR.remove(recv.col, self._pred(node, env, _elem(recv))), recv.dtype)


def m_enumerate(self, recv, args, env):
    return TC(AR.enumerate_(recv.col), T.ArrayType(T.StructType([
        T.StructField("index", T.LongType(), True),
        T.StructField("value", _elem(recv) or T.NullType(), True)])))


def m_pairwise(self, recv, args, env):
    return TC(AR.pairwise(recv.col), T.ArrayType(_arr_out(recv)))


def m_window(self, recv, args, env):
    return TC(AR.window(recv.col, _const_int(args, 0)), T.ArrayType(recv.dtype))


def m_chunk(self, recv, args, env):
    return TC(AR.chunk(recv.col, _const_int(args, 0)), T.ArrayType(recv.dtype))


def m_accumulate(self, recv, args, env):
    init = None
    init_dt = T.DoubleType()
    if len(args) > 1:
        it = self.compile(args[1].value, env)
        init, init_dt = it.col, it.dtype
    fn, body_dt = self._lam2(args[0].value, env, init_dt, _elem(recv))
    if (not isinstance(body_dt, type(init_dt))
            and isinstance(body_dt, T.NumericType)
            and isinstance(init_dt, T.NumericType)):
        # the fold body widens the accumulator (int init + double
        # elements → double): F.aggregate requires zero and lambda to
        # agree, so promote the accumulator type and recompile
        init_dt = body_dt
        init = init.cast(body_dt.simpleString()) if init is not None else None
        fn, body_dt = self._lam2(args[0].value, env, init_dt, _elem(recv))
    return TC(AR.accumulate(recv.col, fn, init), T.ArrayType(init_dt))


def m_partition(self, recv, args, env):
    return TC(AR.partition(recv.col, self._pred(args[0].value, env, _elem(recv))),
              T.StructType([T.StructField("pass", recv.dtype, True),
                            T.StructField("fail", recv.dtype, True)]))


def m_zip(self, recv, args, env):
    other = self.compile(args[0].value, env)
    ea, eb = _elem(recv), _elem(other)
    pair = unify([ea, eb])
    if pair is None:
        # mixed-type pairs ([1, "x"]) can't be a homogeneous Spark
        # array; emit struct<__p0, __p1> — to_python renders it as a
        # 2-list (zip_arrays regression)
        col = AR.let_(recv.col, lambda a: AR.let_(other.col, lambda b: F.zip_with(
            F.slice(a, 1, F.least(F.size(a), F.size(b))),
            F.slice(b, 1, F.least(F.size(a), F.size(b))),
            lambda x, y: F.struct(x.alias("__p0"), y.alias("__p1")))))
        return TC(col, T.ArrayType(T.StructType([
            T.StructField("__p0", ea or T.NullType(), True),
            T.StructField("__p1", eb or T.NullType(), True)])))
    return TC(AR.zip_(recv.col, other.col), T.ArrayType(T.ArrayType(pair or T.NullType())))


def m_zip_longest(self, recv, args, env):
    other = self.compile(args[0].value, env)
    pair = unify([_elem(recv), _elem(other)])
    return TC(AR.zip_longest(recv.col, other.col),
              T.ArrayType(T.ArrayType(pair or T.NullType())))


def m_fanout(self, recv, args, env):
    cols = []
    dts = []
    for a in args:
        fn, dt = self._lam(a.value, env, recv.dtype)
        cols.append(fn(recv.col))
        dts.append(dt)
    return TC(F.array(*cols), T.ArrayType(unify(dts) or T.NullType()))


def m_collect(self, recv, args, env):
    is_arr = isinstance(recv.dtype, T.ArrayType)
    out = recv.dtype if is_arr else T.ArrayType(recv.dtype or T.NullType())
    return TC(AR.collect(recv.col, is_arr), out)


_SCALAR_FAMS = {"string", "number", "bool"}


def _cross_scalar(ea, eb) -> bool:
    """Both elements are BARE scalars of DIFFERENT families — the one
    case where set-op membership can still match across types: the
    reference keys members by val_to_key (util.rs:216-226), so string
    "3" matches long 3 and string "true" matches bool true. An
    eqNullSafe here would make Spark coerce (string→bigint under ANSI)
    and CRASH at runtime on the first non-numeric value (r12 probe,
    found while fixing the object-row crash the soak caught) — these
    pairs must compare on the canonical key instead."""
    fa, fb = _family(ea), _family(eb)
    return fa in _SCALAR_FAMS and fb in _SCALAR_FAMS and fa != fb


def _key_collide(ea, eb) -> bool:
    """Does VALUE comparison between these element types have to go
    through val_to_key canonical keys (util.rs:216-226) because the key
    TEXTS can collide where native null-safe equality says "different"
    (or would crash coercing)? The collision classes, from val_to_key's
    rendering (r12 ADVICE items 2+3):

    - cross-family bare scalars (string "3" == long 3) — _cross_scalar;
    - string vs string: a NULL element keys "null", colliding with the
      literal string "null" (Val::Null arm);
    - string vs null-typed side: same "null" collision;
    - string vs container: a string equal to the container's compact
      JSON text ("[1,2]") collides with its key.

    Everything else is collision-free under native null-safe equality:
    number/bool/null keys never render like each other or like JSON
    containers, same-family non-string values key equal iff they are
    null-safe-equal, and NESTED fields render JSON-quoted so the
    top-level allowances never apply one level down (eq_comparable)."""
    fa, fb = _family(ea), _family(eb)
    if "variant" in (fa, fb):
        # runtime-typed side: val_to_key is the ONLY total comparison —
        # native equality over variants is not even order-comparable in
        # Spark (INVALID_ORDERING_TYPE), and the key text is the
        # reference's semantics anyway (r13: heterogeneous post-union
        # arrays feeding set ops / unique / includes)
        return True
    if _cross_scalar(ea, eb):
        return True
    if "string" in (fa, fb):
        other = fb if fa == "string" else fa
        return other in ("string", "null", "array", "object")
    return False


def _key_membership(arr: Column, other: Column, ea, eb,
                    keep_present: bool) -> Column:
    """Filter ``arr`` by val_to_key-canonical membership in ``other``
    (diff_apply/intersect_apply, collection.rs:594-646) — used for
    cross-family scalar elements where native equality would coerce."""
    def ka(x):
        return F.coalesce(_canon_str(x, ea), F.lit("null"))

    def kb(o):
        return F.coalesce(_canon_str(o, eb), F.lit("null"))

    from jetro_spark.functions.arrays import let_
    return let_(other, lambda bb: F.filter(
        arr, lambda x: F.coalesce(
            F.exists(bb, lambda o: ka(x) == kb(o)), F.lit(False))
        == F.lit(keep_present)))


def m_diff(self, recv, args, env):
    other = self.compile(args[0].value, env)
    ea, eb = _elem(recv), _elem(other)
    if _key_collide(ea, eb):
        # canonical-key membership: "3" removes long 3, a null element
        # keys "null" and matches the literal string "null", a string
        # "[1,2]" matches array [1,2]'s JSON key (val_to_key)
        return TC(_key_membership(recv.col, other.col, ea, eb,
                                  keep_present=False), recv.dtype)
    if not eq_comparable(ea, eb):
        # no key can ever match across kinds → receiver unchanged
        # (diff_apply compares canonical keys, never type-errors)
        return recv
    return TC(AR.diff(recv.col, other.col), recv.dtype)


def m_intersect(self, recv, args, env):
    other = self.compile(args[0].value, env)
    ea, eb = _elem(recv), _elem(other)
    if _key_collide(ea, eb):
        return TC(_key_membership(recv.col, other.col, ea, eb,
                                  keep_present=True), recv.dtype)
    if not eq_comparable(ea, eb):
        # cross-kind: nothing intersects → empty (same type as recv)
        return TC(F.slice(recv.col, 1, 0), recv.dtype)
    return TC(AR.intersect(recv.col, other.col), recv.dtype)


def names_differ(a: T.DataType, b: T.DataType) -> bool:
    """Both are structs and, at some level of their common fields, their
    field-name lists differ — where a struct cast fails (or pairs the
    fields by position) and ``widen_struct`` must rebuild by name."""
    if not (isinstance(a, T.StructType) and isinstance(b, T.StructType)):
        return False
    if a.fieldNames() != b.fieldNames():
        return True
    return any(names_differ(fa.dataType, fb.dataType)
               for fa, fb in zip(a.fields, b.fields))


def widen_struct(c: Column, st: T.StructType, to: T.StructType) -> Column:
    """struct ``st`` → struct ``to`` by field name: fields absent from st
    pad with typed nulls (the _deep_collect pad), struct fields whose
    names differ widen the same way, others cast. A VARIANT target field
    (cross-family conflict, r12) converts via to_variant — a plain cast
    would ANSI-coerce (string→bigint crashed the union widen on the
    first non-numeric key). Serves union's element widen and the
    element writes of ``patch``."""
    from jetro_spark.functions.core import to_variant

    names = {f.name: f.dataType for f in st.fields}

    def conv(f: T.StructField) -> Column:
        if f.name not in names:
            return F.lit(None).cast(f.dataType.simpleString())
        src, sub = names[f.name], c.getField(f.name)
        if isinstance(f.dataType, T.VariantType) \
                and not isinstance(src, T.VariantType):
            return to_variant(sub, src)
        if names_differ(src, f.dataType):
            return widen_struct(sub, src, f.dataType)
        return sub.cast(f.dataType.simpleString())

    return F.struct(*[conv(f).alias(f.name) for f in to.fields])


def _widen_elems(arr: Column, st: T.StructType, to: T.StructType) -> Column:
    """array<struct st> → array<struct to>, element-wise widen_struct."""
    return F.transform(arr, lambda c: widen_struct(c, st, to))


def m_union(self, recv, args, env):
    other = self.compile(args[0].value, env)
    ea, eb = _elem(recv), _elem(other)
    fa, fb = _family(ea), _family(eb)
    if "string" in (fa, fb) and {fa, fb} <= {"string", "null"}:
        # homogeneous-output union whose membership still needs
        # val_to_key keys: a NULL element keys "null" and collides with
        # the literal string "null" (union_apply probes the receiver's
        # key SET, collection.rs:611-627 — r12 ADVICE item 3). Same
        # append semantics as AR.union, keyed canonically; the output
        # stays array<string> (concat coerces an all-null side).
        from jetro_spark.functions.arrays import let_

        def ka(x):
            return F.coalesce(_canon_str(x, ea), F.lit("null"))

        def kb(o):
            return F.coalesce(_canon_str(o, eb), F.lit("null"))

        col = let_(recv.col, lambda aa: F.concat(aa, F.filter(
            other.col, lambda o: ~F.coalesce(
                F.exists(aa, lambda x: ka(x) == kb(o)), F.lit(False)))))
        return TC(col, T.ArrayType(unify([ea, eb]) or T.StringType()))
    if "variant" in (fa, fb) or _cross_scalar(ea, eb) or (
            not eq_comparable(ea, eb)
            and not (isinstance(ea, T.StructType)
                     and isinstance(eb, T.StructType))):
        # mixed-kind union (scalar-vs-scalar cross family, or any
        # provably-incomparable non-struct-struct pair — scalar vs
        # array, map vs struct): the reference's output is a
        # heterogeneous array ([3.0, "x", true]); the engine's
        # representation for mixed elements is VARIANT. Membership
        # stays the val_to_key canonical key (so "3" suppresses an
        # appended long 3); cross-KIND keys can never collide, making
        # the filter a no-op there — one uniform lowering.
        # (struct-vs-struct keeps the null-padded widen below: same
        # navigable shape, no variant hop)
        from jetro_spark.functions.arrays import let_
        from jetro_spark.functions.core import to_variant

        def ka(x):
            return F.coalesce(_canon_str(x, ea), F.lit("null"))

        def kb(o):
            return F.coalesce(_canon_str(o, eb), F.lit("null"))

        col = let_(recv.col, lambda aa: F.concat(
            F.transform(aa, lambda x: to_variant(x, ea)),
            F.transform(
                F.filter(other.col, lambda o: ~F.coalesce(
                    F.exists(aa, lambda x: ka(x) == kb(o)),
                    F.lit(False))),
                lambda o: to_variant(o, eb))))
        return TC(col, T.ArrayType(T.VariantType()))
    if (not eq_comparable(ea, eb)
            and isinstance(ea, T.StructType) and isinstance(eb, T.StructType)):
        # cross-shape objects never share a canonical key, so union_apply
        # appends EVERYTHING from the other side (collection.rs:611-627,
        # no error). Representable by widening both sides to the union
        # struct: the receiver's missing fields become nulls, which is
        # also how downstream field access sees them (missing ≡ null).
        # A field whose types CONFLICT across the two sides widens to
        # VARIANT (document ingest's convention — r12: first-wins
        # made the widen cast 'g0' string→bigint and ANSI-crash)
        u0 = union_struct([ea, eb])
        at = {f.name: f.dataType for f in ea.fields}
        bt2 = {f.name: f.dataType for f in eb.fields}
        u = T.StructType([
            T.StructField(
                f.name,
                f.dataType if unify([d for d in (at.get(f.name),
                                                 bt2.get(f.name))
                                     if d is not None]) is not None
                else T.VariantType(), True)
            for f in u0.fields])
        return TC(F.concat(_widen_elems(recv.col, ea, u),
                           _widen_elems(other.col, eb, u)),
                  T.ArrayType(u))
    # result dtype = the UNIFIED element type, not the receiver's:
    # Spark's concat coerces (array<null> ++ array<long> → array<long>,
    # long ++ double → double) and a stale claimed dtype makes every
    # downstream lambda compile against the wrong element type (r12
    # soak catch: an all-null receiver's union claimed array<null>, so
    # find_index over the appended longs constant-folded to -1)
    out_elem = unify([ea, eb])
    out_dt = (T.ArrayType(out_elem) if out_elem is not None
              else (recv.dtype if not isinstance(_elem(recv), T.NullType)
                    else other.dtype))
    return TC(AR.union(recv.col, other.col), out_dt)


def _const_over(recv: TC, c: Column, dt: T.DataType) -> TC:
    """Constant result that still EVALUATES the receiver: reference
    pipelines are eager, so an ill-typed receiver errors even when the
    probe's cross-kind answer is known at compile time (r9 soak catch:
    a compile-time-false includes() DISCARDED the receiver subtree and
    masked an ill-typed sort in doc mode, while relational mode
    analyzes each stage eagerly — one-sided error)."""
    from jetro_spark.functions.core import let_
    return TC(let_(recv.col, lambda _: c), dt)


def _membership(recv: TC, v: TC) -> TC:
    """Total membership with the reference's includes semantics
    (ops/misc.rs:129-151 includes_apply): strings check substring,
    arrays check element presence (null-safe — Val::Null renders to the
    key "null", so a null probe matches null elements), objects check
    KEY membership (non-string probes are false: item.as_str() → None),
    and a provably type-mismatched probe is constant false — the
    reference compares canonical keys across kinds and never
    type-errors, so neither may we (r7: this was a CompileError)."""
    vf = _family(v.dtype)
    if _family(recv.dtype) == "string":
        if vf in ("number", "bool", "object", "array", "null"):
            # Str arm unwraps a non-string needle to "" (as_str()
            # .unwrap_or_default()) — contains("") is true for any
            # non-null receiver
            return TC(recv.col.isNotNull(), T.BooleanType())
        return TC(F.coalesce(F.contains(recv.col, v.col), F.lit(False)),
                  T.BooleanType())
    if isinstance(recv.dtype, T.MapType):
        if vf not in ("string", "unknown", "variant"):
            return _const_over(recv, F.lit(False), T.BooleanType())
        return TC(F.coalesce(F.map_contains_key(recv.col, v.col),
                             F.lit(False)), T.BooleanType())
    if isinstance(recv.dtype, T.StructType):
        if vf not in ("string", "unknown", "variant"):
            return _const_over(recv, F.lit(False), T.BooleanType())
        names = F.array(*[F.lit(f.name) for f in recv.dtype.fields])
        return TC(F.coalesce(F.array_contains(names, v.col.cast("string")),
                             F.lit(False)), T.BooleanType())
    if is_objrepr(recv.dtype):
        # ordered-object repr (group_by/count_by output): key membership
        if vf not in ("string", "unknown", "variant"):
            return _const_over(recv, F.lit(False), T.BooleanType())
        return TC(F.coalesce(
            F.exists(recv.col,
                     lambda x: x.getField("key").eqNullSafe(v.col)),
            F.lit(False)), T.BooleanType())
    el = _elem(recv)
    if el is not None:
        if _key_collide(el, v.dtype):
            # canonical-key comparison (val_to_key) — covers the pairs
            # where key texts collide across representations: string
            # probe/element vs number/bool ("3" matches 3 — Spark's
            # native coercion would ANSI-cast and throw), vs null (a
            # NULL keys "null" and matches the literal string "null"),
            # and vs container (a string equal to the compact JSON
            # text matches — r13, the set-op ADVICE classes applied to
            # includes_apply's Val::Arr arm, misc.rs:129-151)
            pr = F.coalesce(_canon_str(v.col, v.dtype), F.lit("null"))
            return TC(F.coalesce(
                F.exists(recv.col,
                         lambda x: F.coalesce(_canon_str(x, el),
                                              F.lit("null")) == pr),
                F.lit(False)), T.BooleanType())
        if not eq_comparable(el, v.dtype):
            return _const_over(recv, F.lit(False), T.BooleanType())
        probe = _reorder_struct_probe(v, el)
        return TC(F.coalesce(F.exists(recv.col,
                                      lambda x: x.eqNullSafe(probe)),
                             F.lit(False)), T.BooleanType())
    # unknown/variant receiver: the legacy coercion path
    return TC(F.coalesce(F.array_contains(recv.col, v.col), F.lit(False)),
              T.BooleanType())


def _reorder_struct_probe(v: TC, el: T.DataType) -> Column:
    """Reference object equality is key-based, Spark struct equality is
    positional: when probe and element are structs with the same name
    SET in a different order, rebuild the probe in element order."""
    if (isinstance(el, T.StructType) and isinstance(v.dtype, T.StructType)
            and [f.name for f in v.dtype.fields]
            != [f.name for f in el.fields]):
        return F.struct(*[v.col.getField(f.name).alias(f.name)
                          for f in el.fields])
    return v.col


def _cross_renders(a: T.DataType | None, b: T.DataType | None) -> bool:
    """True when equality between these kinds goes through the
    reference's canonical STRING rendering (val_to_key): a string side
    against a number/bool side. Spark's native comparison would instead
    CAST the string side and ANSI-throw on non-numeric text (r7 soak
    catch) — callers must compare via ``_canon_str`` on both sides."""
    fa, fb = _family(a), _family(b)
    return ("string" in (fa, fb) and fa != fb
            and {fa, fb} <= {"string", "number", "bool"})


def _canon_str(col: Column, dt: T.DataType | None) -> Column:
    """val_to_key's string rendering: integral doubles drop the
    trailing .0 (Rust's f64 Display renders 74.0 as "74"), longs/bools
    match Spark's cast already. Huge/non-integral doubles keep Spark's
    rendering — a documented hairline delta (the engines' scientific-
    notation thresholds differ).

    Containers render via compact JSON (val_to_key → val_to_string →
    serde_json::to_string, util.rs:228-243) — NOT Spark's cast-to-string
    ('[1, 2]' with spaces, unquoted struct fields), which both collided
    with the wrong strings and missed the right ones (r12 ADVICE item 2:
    a string "[1,2]" key MUST equal array [1,2]'s key, and "[1, 2]"
    must NOT). ignoreNullFields=false keeps null struct fields in the
    rendering like serde does ({"k":null}, not {}). NESTED doubles keep
    serde's JSON form (74.0 renders "74.0" in both engines — the
    Display-drops-.0 rule is top-level only)."""
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        lt = col.try_cast("long")
        return F.when(
            lt.isNotNull() & (lt.cast("double") == col.cast("double")),
            lt.cast("string")).otherwise(col.cast("string"))
    if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
        return F.to_json(col, {"ignoreNullFields": "false"})
    if isinstance(dt, T.VariantType):
        # runtime-typed element (the mixed-union representation, r12):
        # try_variant_get(.., 'string') IS val_to_key per kind — bare
        # strings, bare digits, true/false, compact JSON containers
        # with null fields kept, null → NULL (callers coalesce) — with
        # one correction: a variant DOUBLE renders "74.0", where Rust's
        # f64 Display drops the .0 (same collapse as the typed arm)
        sv = F.schema_of_variant(col)
        s = F.try_variant_get(col, "$", "string")
        dbl = F.try_variant_get(col, "$", "double")
        lng = dbl.try_cast("long")
        return F.when(
            sv.isin("DOUBLE", "FLOAT") & lng.isNotNull()
            & (lng.cast("double") == dbl),
            lng.cast("string")).otherwise(s)
    return col.cast("string")


def m_includes(self, recv, args, env):
    return _membership(recv, self.compile(args[0].value, env))


def _index_absent(recv: TC, v: TC) -> bool:
    """The ARRAY index family (index/index_of/indices_of/last_index_of
    on arrays) compares via vals_eq (util.rs:197, json_vals_eq) — a
    TYPE-STRICT equality where a string never equals a number (unlike
    includes' val_to_key canonical keys). A provably cross-kind probe is
    therefore ABSENT, and string-vs-number pairs must short-circuit too
    (Spark would ANSI-cast the string side and throw)."""
    return (not eq_comparable(_elem(recv), v.dtype)
            or _cross_renders(_elem(recv), v.dtype))


def m_index_of(self, recv, args, env):
    if _family(recv.dtype) == "string":
        return TC(S.index_of(recv.col, _const_str(args, 0)), T.LongType())
    v = self.compile(args[0].value, env)
    if _index_absent(recv, v):
        return _const_over(recv, F.lit(-1).cast("long"), T.LongType())
    return TC(AR.index(recv.col, _reorder_struct_probe(v, _elem(recv))),
              T.LongType())


def m_last_index_of(self, recv, args, env):
    if _family(recv.dtype) == "string":
        return TC(S.last_index_of(recv.col, _const_str(args, 0)), T.LongType())
    # array variant: last 0-based index of value, -1 when absent
    v = self.compile(args[0].value, env)
    if _index_absent(recv, v):
        return _const_over(recv, F.lit(-1).cast("long"), T.LongType())
    idx = F.array_max(
        AR.indices_of(recv.col, _reorder_struct_probe(v, _elem(recv))))
    return TC(F.coalesce(idx, F.lit(-1).cast("long")), T.LongType())


def m_indices_of(self, recv, args, env):
    v = self.compile(args[0].value, env)
    if _index_absent(recv, v):
        # cross-kind probe: no position ever matches (vals_eq totality)
        return _const_over(recv, F.array().cast("array<long>"),
                           T.ArrayType(T.LongType()))
    return TC(AR.indices_of(recv.col, _reorder_struct_probe(v, _elem(recv))),
              T.ArrayType(T.LongType()))


def m_zip_shape(self, recv, args, env):
    """`zip_shape(name: expr, …)` — named exprs over one receiver →
    object. Reference: ops/array.rs:824-840."""
    if not args or any(a.name is None for a in args):
        raise CompileError("zip_shape expects named arguments")
    cols, fields = [], []
    for a in args:
        tc = self.compile(a.value, env.with_current(recv))
        cols.append(tc.col.alias(a.name))
        fields.append(T.StructField(a.name, tc.dtype or T.NullType(), True))
    return TC(F.struct(*cols), T.StructType(fields))


def m_group_shape(self, recv, args, env):
    """`group_shape(key_λ, shape_λ)`: group by stringified key, apply
    shape to each group array → `{key: shape(group)}` (objrepr).
    Reference: ops/array.rs:841-863."""
    key_fn, key_dt = self._lam(args[0].value, env, _elem(recv))
    grouped = AR.group_by(recv.col, _key_lam(key_fn, key_dt))  # array<struct<key, value:arr>>
    shape_fn, shape_dt = self._lam(args[1].value, env, recv.dtype)
    out = F.transform(
        grouped,
        lambda e: F.struct(e["key"].alias("key"),
                           shape_fn(e["value"]).alias("value")))
    return TC(out, T.ArrayType(T.StructType([
        T.StructField("key", T.StringType(), True),
        T.StructField("value", shape_dt or T.NullType(), True)])))


def m_join(self, recv, args, env):
    return TC(S.join(recv.col, _const_str(args, 0, "")), T.StringType())


def m_len(self, recv, args, env):
    fam = _family(recv.dtype)
    if fam == "string":
        return TC(F.length(recv.col).cast("long"), T.LongType())
    if isinstance(recv.dtype, T.StructType):
        return TC(F.lit(len(recv.dtype.fields)).cast("long"), T.LongType())
    return TC(F.size(recv.col).cast("long"), T.LongType())


def _agg_vals(self, recv, args, env):
    """Optional field/lambda projection before a numeric reducer."""
    if args:
        fn, dt = self._lam(args[0].value, env, _elem(recv))
        return F.transform(recv.col, fn), dt
    return recv.col, _elem(recv)


def _skips_numeric_fold(dt: T.DataType | None) -> bool:
    """True when the reference's numeric reducer would observe NO
    element of this type: num_fold (exec/pipeline/common.rs:15-29)
    folds Int/Float and silently SKIPS everything else, so
    sum over strings is 0 and min/max/avg are Null — never a type
    error. Null elements are already skipped by array_compact; unknown/
    variant types stay on the runtime path."""
    return _family(dt) in ("string", "bool", "object", "array")


def _numfold_vals(vals: Column, dt: T.DataType | None):
    """num_fold's runtime leg for VARIANT elements (r9 soak catch):
    the strict `cast(double)` THREW on a variant holding an array/
    object (INVALID_VARIANT_CAST) where num_fold silently SKIPS every
    non-numeric element — kind-dispatch each element and null out the
    skipped kinds (nulls are compacted by the aggregate)."""
    if isinstance(dt, T.VariantType):
        from jetro_spark.functions.arrays import let_

        def numeric_or_null(x):
            # one schema_of_variant eval per element (let_-bound — HOF
            # lambdas have no CSE; vkind's when-chain re-evaluated it
            # ~5x and cost bl_q8 +44%): numeric = not any non-numeric
            # family. Variant-null try_casts to null anyway.
            return let_(F.schema_of_variant(x), lambda s: F.when(
                ~(s.startswith("ARRAY") | s.startswith("OBJECT")
                  | s.startswith("STRUCT") | (s == "STRING")
                  | (s == "BOOLEAN")),
                x.try_cast(T.DoubleType())))

        return F.transform(vals, numeric_or_null), T.DoubleType()
    return vals, dt


def m_sum(self, recv, args, env):
    vals, dt = _agg_vals(self, recv, args, env)
    if _skips_numeric_fold(dt):
        # every element skipped — but the receiver must still EVALUATE
        # (eager reference pipelines: an ill-typed upstream stage
        # errors even when the fold's answer is known; r10 soak catch —
        # same class as the r9 _const_over probes)
        return _const_over(TC(vals, dt), F.lit(0.0), T.DoubleType())
    vals, dt = _numfold_vals(vals, dt)
    return TC(AR.sum_(vals), T.DoubleType())


def m_avg(self, recv, args, env):
    vals, dt = _agg_vals(self, recv, args, env)
    if _skips_numeric_fold(dt):
        # n_obs == 0 → op.empty(), receiver still evaluated (r10)
        return _const_over(TC(vals, dt), F.lit(None), T.NullType())
    vals, dt = _numfold_vals(vals, dt)
    return TC(AR.avg(vals), T.DoubleType())


def m_min(self, recv, args, env):
    vals, dt = _agg_vals(self, recv, args, env)
    if _skips_numeric_fold(dt):
        return _const_over(TC(vals, dt), F.lit(None), T.NullType())
    # variant elements take the num_fold runtime leg like sum/avg
    # (r10 advice: array_min rejects VARIANT ordering, while num_fold
    # silently skips non-numeric kinds for Min/Max too — common.rs:
    # 48-58; the nulled-out elements are ignored by array_min)
    vals, dt = _numfold_vals(vals, dt)
    return TC(F.array_min(vals), dt)


def m_max(self, recv, args, env):
    vals, dt = _agg_vals(self, recv, args, env)
    if _skips_numeric_fold(dt):
        return _const_over(TC(vals, dt), F.lit(None), T.NullType())
    vals, dt = _numfold_vals(vals, dt)
    return TC(F.array_max(vals), dt)


def m_count(self, recv, args, env):
    if args:
        return TC(AR.count(recv.col, self._pred(args[0].value, env, _elem(recv))),
                  T.LongType())
    return TC(AR.count(recv.col), T.LongType())


def m_any(self, recv, args, env):
    return TC(AR.any_(recv.col, self._pred(args[0].value, env, _elem(recv))),
              T.BooleanType())


def m_all(self, recv, args, env):
    return TC(AR.all_(recv.col, self._pred(args[0].value, env, _elem(recv))),
              T.BooleanType())


def m_min_by(self, recv, args, env):
    fn, _ = self._lam(args[0].value, env, _elem(recv))
    return TC(AR.min_by(recv.col, fn), _elem(recv))


def m_max_by(self, recv, args, env):
    fn, _ = self._lam(args[0].value, env, _elem(recv))
    return TC(AR.max_by(recv.col, fn), _elem(recv))


def _objrepr_dt(value_dt: T.DataType) -> T.ArrayType:
    return T.ArrayType(T.StructType([
        T.StructField("key", T.StringType(), True),
        T.StructField("value", value_dt, True)]))


def _key_lam(fn, dt):
    """Key lambda → the reference's canonical key string (val_to_key,
    util.rs:216-226): integral doubles render WITHOUT the trailing .0
    (group_by(v) over doubles keys as "74", not "74.0" — r7 fix), a
    null key renders as the string "null"; other kinds match Spark's
    cast already."""
    return lambda x: F.coalesce(_canon_str(fn(x), dt), F.lit("null"))


def m_group_by(self, recv, args, env):
    fn, dt = self._lam(args[0].value, env, _elem(recv))
    return TC(AR.group_by(recv.col, _key_lam(fn, dt)),
              _objrepr_dt(recv.dtype))


def m_count_by(self, recv, args, env):
    fn, dt = self._lam(args[0].value, env, _elem(recv))
    return TC(AR.count_by(recv.col, _key_lam(fn, dt)),
              _objrepr_dt(T.LongType()))


def m_index_by(self, recv, args, env):
    fn, dt = self._lam(args[0].value, env, _elem(recv))
    return TC(AR.index_by(recv.col, _key_lam(fn, dt)),
              _objrepr_dt(_elem(recv) or T.NullType()))


def _field_name_arg(args, i=0) -> str:
    a = args[i].value
    if isinstance(a, A.Ident):
        return a.name
    if isinstance(a, A.Literal) and isinstance(a.value, str):
        return a.value
    raise CompileError("expected a field name (bare or string)")


def m_explode_doc(self, recv, args, env):
    """Doc-mode explode(field): one copy of each object per element of
    its (array-typed) field; a null field keeps the item; a uniformly
    non-array field is the identity. Reference: ops/collection.rs:497-520
    (the relational table form lowers in engine.JetroTables._explode)."""
    field = _field_name_arg(args)
    el = _elem(recv)
    if not isinstance(el, T.StructType) or field not in el.fieldNames() \
            or not isinstance(el[field].dataType, T.ArrayType):
        return TC(recv.col, recv.dtype)
    inner = el[field].dataType.elementType
    new_el = T.StructType([
        T.StructField(f.name, inner if f.name == field else f.dataType, True)
        for f in el.fields])
    col = F.flatten(F.transform(recv.col, lambda item: F.when(
        item.getField(field).isNull(),
        F.array(item.withField(field, F.lit(None).cast(inner))),
    ).otherwise(
        F.transform(item.getField(field),
                    lambda e: item.withField(field, e)))))
    return TC(col, T.ArrayType(new_el))


def m_implode_doc(self, recv, args, env):
    """Inverse of explode: group objects by every other field (first-seen
    order, struct equality), collecting `field` values into an array
    appended as the LAST field (IndexMap shift_remove + insert).
    Reference: ops/collection.rs:522-553."""
    field = _field_name_arg(args)
    el = _elem(recv)
    if not isinstance(el, T.StructType) or field not in el.fieldNames():
        raise CompileError(f"implode: field {field!r} not in element schema")
    vdt = el[field].dataType
    rest = [f for f in el.fields if f.name != field]
    new_el = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in rest]
        + [T.StructField(field, T.ArrayType(vdt), True)])
    if not rest:
        col = F.array(F.struct(
            F.transform(recv.col, lambda it: it.getField(field)).alias(field)))
        return TC(col, T.ArrayType(new_el))
    # input let_-bound: referenced inside the per-group member filter
    # (would re-evaluate a chained upstream once per group — HOF no-CSE)
    col = AR.let_(recv.col, lambda arr: F.transform(
        F.array_distinct(F.transform(arr, lambda it: it.dropFields(field))),
        lambda r: r.withField(field, F.transform(
            F.filter(arr, lambda it: it.dropFields(field).eqNullSafe(r)),
            lambda it: it.getField(field)))))
    return TC(col, T.ArrayType(new_el))


def m_pivot_doc(self, recv, args, env):
    """pivot(key, val) → ordered object {key_str: val} (last value wins,
    first-seen key order); pivot(row, col, val) → nested ordered object.
    STRING literal args are field lookups; any other expression is
    evaluated per item (mod.rs:2590-2597, ops/array.rs:550-596)."""
    el = _elem(recv)

    def arg_fn(i):
        a = args[i].value
        if isinstance(a, A.Literal) and isinstance(a.value, str):
            name = a.value
            if isinstance(el, T.StructType) and name in el.fieldNames():
                return (lambda x: x.getField(name)), el[name].dataType
            return (lambda x: F.lit(None)), T.NullType()
        return self._lam(a, env, el)

    # input (and each row-group slice) let_-bound: both sit inside
    # per-key lambdas and would re-evaluate a chained upstream once per
    # key (nested: per row-key × col-key) — HOF no-CSE
    if len(args) >= 3:
        rf0, rdt = arg_fn(0)
        cf0, cdt = arg_fn(1)
        vf, vdt = arg_fn(2)
        rf, cf = _key_lam(rf0, rdt), _key_lam(cf0, cdt)

        def _three(arr):
            def inner_obj(rk):
                return AR.let_(
                    F.filter(arr, lambda x: rf(x).eqNullSafe(rk)),
                    lambda sub: F.transform(
                        F.array_distinct(F.transform(sub, cf)),
                        lambda ck: F.struct(
                            ck.alias("key"),
                            vf(F.element_at(
                                F.filter(sub,
                                         lambda x: cf(x).eqNullSafe(ck)),
                                -1)).alias("value"))))

            rkeys = F.array_distinct(F.transform(arr, rf))
            return F.transform(rkeys, lambda rk: F.struct(
                rk.alias("key"), inner_obj(rk).alias("value")))

        return TC(AR.let_(recv.col, _three), _objrepr_dt(_objrepr_dt(vdt)))
    if len(args) < 2:
        raise CompileError("pivot: requires key arg and value arg")
    kf0, kdt = arg_fn(0)
    vf, vdt = arg_fn(1)
    kf = _key_lam(kf0, kdt)
    col = AR.let_(recv.col, lambda arr: F.transform(
        F.array_distinct(F.transform(arr, kf)),
        lambda k: F.struct(
            k.alias("key"),
            vf(F.element_at(
                F.filter(arr, lambda x: kf(x).eqNullSafe(k)),
                -1)).alias("value"))))
    return TC(col, _objrepr_dt(vdt))


def m_approx_count_distinct(self, recv, args, env):
    # document-mode: exact distinct count of stringified values (HLL is an
    # aggregate, unavailable per-array; reference uses 4096-register HLL —
    # exact is a strict accuracy upgrade at array scale)
    return TC(F.size(F.array_distinct(F.transform(
        recv.col, lambda x: x.cast("string")))).cast("long"), T.LongType())


def m_equi_join(self, recv, args, env):
    """Doc-mode equi_join over two array<struct> (ops/array.rs:489-548):
    inner hash join on val_to_key canonical keys (null keys match under
    the "null" bucket), shallow merge, right wins on collision."""
    other = self.compile(args[0].value, env)
    lk = _const_str(args, 1)
    rk = _const_str(args, 2)
    lst, rst = _elem(recv), _elem(other)
    if not isinstance(lst, T.StructType) or not isinstance(rst, T.StructType):
        raise CompileError("equi_join expects arrays of objects")
    merged_fields: list[T.StructField] = [
        f for f in lst.fields if f.name not in set(rst.fieldNames())
    ] + list(rst.fields)
    merged = T.StructType(merged_fields)
    rnames = set(rst.fieldNames())
    if lk not in lst.fieldNames() or rk not in rst.fieldNames():
        # a MISSING key field is a per-row null lookup: every probe
        # misses (array.rs:517-531 — None key → continue / never
        # indexed), so the join is EMPTY — not a FIELD_NOT_FOUND
        # analysis error (r10 soak catch: relational mode already
        # synthesized a typed null key here, doc mode errored
        # one-sidedly). Both sides still evaluate (eager pipelines).
        return _const_over(TC(F.struct(recv.col, other.col), None),
                           F.array().cast(T.ArrayType(merged)),
                           T.ArrayType(merged))

    def merge(le: Column, re_: Column) -> Column:
        cols = []
        for f in lst.fields:
            if f.name not in rnames:
                cols.append(le.getField(f.name).alias(f.name))
        for f in rst.fields:
            cols.append(re_.getField(f.name).alias(f.name))
        return F.struct(*cols)

    # keys match via val_to_key's canonical string (util.rs:216-226):
    # a PRESENT-but-null key is the "null" bucket and matches its
    # peers (array.rs:505-531 — only a MISSING field skips, and a
    # field missing per-row is null here too: the repo's schema
    # unification conflates the two, documented ingestion limit);
    # cross-kind keys compare by rendering, like includes/group_by
    ldt = lst[lk].dataType
    rdt = rst[rk].dataType
    lck = lambda e: F.coalesce(  # noqa: E731
        _canon_str(e.getField(lk), ldt), F.lit("null"))
    rck = lambda e: F.coalesce(  # noqa: E731
        _canon_str(e.getField(rk), rdt), F.lit("null"))
    out = F.flatten(F.transform(
        recv.col,
        # bind the left key's rendering ONCE per left element — inside
        # the inner lambda it would re-render per (l, r) PAIR (HOFs
        # have no CSE)
        lambda le: let_(lck(le), lambda lkv: F.transform(
            F.filter(other.col, lambda re_: rck(re_) == lkv),
            lambda re_: merge(le, re_)))))
    return TC(out, T.ArrayType(merged))


# ------------------------------ scalar / string builtins (element-wise)


def _s1(fn, out_dt=T.StringType()):
    def h(self, recv, args, env):
        return TC(fn(recv.col), out_dt)
    return h


def _s_arg(fn, out_dt=T.StringType()):
    def h(self, recv, args, env):
        return TC(fn(recv.col, _const_str(args, 0)), out_dt)
    return h


def m_slice(self, recv, args, env):
    start = _const_int(args, 0)
    stop = _const_int(args, 1) if len(args) > 1 else None
    if _family(recv.dtype) == "string":
        return TC(S.str_slice(recv.col, start, stop), T.StringType())
    return TC(jt_slice(recv.col, start, stop), recv.dtype)


def m_replace(self, recv, args, env):
    return TC(S.replace(recv.col, _const_str(args, 0), _const_str(args, 1)),
              T.StringType())


def m_replace_all(self, recv, args, env):
    return TC(S.replace_all(recv.col, _const_str(args, 0), _const_str(args, 1)),
              T.StringType())


def m_split(self, recv, args, env):
    return TC(S.split(recv.col, _const_str(args, 0)), T.ArrayType(T.StringType()))


def m_pad(which):
    def h(self, recv, args, env):
        n = _const_int(args, 0)
        ch = _const_str(args, 1, " ")
        fn = {"left": S.pad_left, "right": S.pad_right, "center": S.center}[which]
        return TC(fn(recv.col, n, ch), T.StringType())
    return h


def m_repeat(self, recv, args, env):
    return TC(S.repeat(recv.col, _const_int(args, 0)), T.StringType())


def m_indent(self, recv, args, env):
    n = _const_int(args, 0)
    pad = _const_str(args, 1, " ")
    return TC(S.indent(recv.col, pad * n), T.StringType())


def m_to_string(self, recv, args, env):
    return TC(recv.col.cast("string"), T.StringType())


def m_to_json(self, recv, args, env):
    """Value → compact JSON string (ops/misc.rs:50-73). Struct/array/map
    go through Spark's to_json; scalars use the array-wrap trick
    (to_json(array(x)) = "[<json>]" → strip brackets) so string escaping
    is exact."""
    dt = recv.dtype
    if isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
        return TC(F.to_json(recv.col), T.StringType())
    if isinstance(dt, T.NullType):
        return TC(F.lit("null"), T.StringType())
    wrapped = F.to_json(F.array(recv.col))
    inner = wrapped.substr(F.lit(2), F.length(wrapped) - 2)
    # to_json(array(null)) = "[null]" → "null"; empty only if col null
    return TC(F.coalesce(inner, F.lit("null")), T.StringType())


def m_from_json(self, recv, args, env):
    """JSON string → value (ops/misc.rs:76-100). The reference infers the
    value's shape at runtime; with static schemas we infer it from the
    ACTUAL document string via the engine's py_eval hook (document mode
    is single-document, same as the reference), then parse the column
    with the inferred schema. Invalid JSON → CompileError, which
    `try ... else` catches (regression.rs:1162)."""
    import json as _json

    if env.py_eval is None:
        raise CompileError("from_json requires document context (engine "
                           "mode) for schema inference")
    sval = env.py_eval(recv.col)
    if sval is None:
        return TC(F.lit(None), T.NullType())
    try:
        parsed = _json.loads(sval)
    except (ValueError, TypeError) as e:
        raise CompileError(f"from_json: invalid JSON: {e}") from None
    from jetro_spark.jql.engine import infer_schema
    if isinstance(parsed, (dict, list)):
        schema = infer_schema(parsed) if isinstance(parsed, dict) \
            else infer_schema({"v": parsed})["v"].dataType
        return TC(F.from_json(recv.col, schema), schema)
    lit_tc = Compiler().c_Literal(A.Literal(parsed), env)
    return lit_tc


def _csv_cell(col: Column, dt, sep: str) -> Column:
    """One CSV cell (helpers.rs:130-139): strings quoted only when they
    contain the separator, a quote, or a newline (quotes doubled); other
    scalars stringified (null → "null"); nested values as JSON."""
    if isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
        return F.to_json(col)
    if isinstance(dt, T.NullType):
        return F.lit("null")
    if isinstance(dt, T.StringType):
        needs_quote = (F.contains(col, F.lit(sep))
                       | F.contains(col, F.lit('"'))
                       | F.contains(col, F.lit("\n")))
        quoted = F.concat(F.lit('"'),
                          F.replace(col, F.lit('"'), F.lit('""')),
                          F.lit('"'))
        return F.when(needs_quote, quoted).otherwise(col)
    return F.coalesce(col.cast("string"), F.lit("null"))


def _m_csv(sep: str):
    def h(self, recv, args, env):
        """Array-of-objects/arrays → CSV/TSV text, one line per element
        (values only, no header — helpers.rs:143-169 csv_emit)."""
        dt = recv.dtype
        if isinstance(dt, T.ArrayType):
            elem = dt.elementType
            if isinstance(elem, T.StructType):
                def row(x):
                    return F.concat_ws(sep, *[
                        _csv_cell(x.getField(f.name), f.dataType, sep)
                        for f in elem.fields])
            elif isinstance(elem, T.ArrayType):
                def row(x):
                    return F.array_join(
                        F.transform(x, lambda c: _csv_cell(
                            c, elem.elementType, sep)), sep)
            else:
                def row(x):
                    return _csv_cell(x, elem, sep)
            return TC(F.array_join(F.transform(recv.col, row), "\n"),
                      T.StringType())
        if isinstance(dt, T.StructType):
            return TC(F.concat_ws(sep, *[
                _csv_cell(recv.col.getField(f.name), f.dataType, sep)
                for f in dt.fields]), T.StringType())
        return TC(_csv_cell(recv.col, dt, sep), T.StringType())
    return h


def m_type(self, recv, args, env):
    fam = _family(recv.dtype)
    if fam == "unknown":
        return TC(jt_type_of(recv.col), T.StringType())
    if fam == "null":
        return TC(F.lit("null"), T.StringType())
    return TC(F.when(recv.col.isNull(), F.lit("null")).otherwise(F.lit(fam)),
              T.StringType())


def m_or(self, recv, args, env):
    """`.or(default)` — replace null (SYNTAX.md §19 Core)."""
    d = self.compile(args[0].value, env)
    return TC(F.coalesce(recv.col, d.col), unify([recv.dtype, d.dtype]))


def m_round(self, recv, args, env):
    n = _const_int(args, 0, 0)
    return TC(F.round(recv.col, n), T.DoubleType() if n else recv.dtype)


def m_re_arg(fn, out):
    def h(self, recv, args, env):
        return TC(fn(recv.col, _const_str(args, 0)), out)
    return h


def m_re_replace(self, recv, args, env):
    return TC(S.re_replace(recv.col, _const_str(args, 0), _const_str(args, 1)),
              T.StringType())


def m_re_replace_all(self, recv, args, env):
    return TC(S.re_replace_all(recv.col, _const_str(args, 0), _const_str(args, 1)),
              T.StringType())


def m_contains_list(fn):
    def h(self, recv, args, env):
        pats = [_const_str(args, i) for i in range(len(args))]
        return TC(fn(recv.col, pats), T.BooleanType())
    return h


# ------------------------------ object transforms & path ops (§2.7-2.8)


def _ob1(fn):
    def h(self, recv, args, env):
        c, d = fn(recv.col, recv.dtype)
        return TC(c, d)
    return h


def m_keys(self, recv, args, env):
    if is_objrepr(recv.dtype):
        return TC(F.transform(recv.col, lambda e: e["key"]),
                  T.ArrayType(T.StringType()))
    return _ob1(OB.keys)(self, recv, args, env)


def m_values(self, recv, args, env):
    if is_objrepr(recv.dtype):
        return TC(F.transform(recv.col, lambda e: e["value"]),
                  T.ArrayType(recv.dtype.elementType["value"].dataType))
    return _ob1(OB.values)(self, recv, args, env)


def m_entries(self, recv, args, env):
    """entries()/to_pairs(): object → array of [key, value] PAIRS —
    indexable as e[0]/e[1] (examples.rs obj_entries: `e[0] ==
    "dark_mode"`). Mixed key/value types can't be a homogeneous Spark
    array, so pairs are struct<__p0,__p1> (rendered as 2-lists)."""
    if is_objrepr(recv.dtype):
        ent, vdt = recv.col, recv.dtype.elementType["value"].dataType
    else:
        c, d = OB.entries(recv.col, recv.dtype)
        ent, vdt = c, d.elementType["value"].dataType
    col = F.transform(ent, lambda e: F.struct(
        e["key"].alias("__p0"), e["value"].alias("__p1")))
    return TC(col, T.ArrayType(T.StructType([
        T.StructField("__p0", T.StringType(), True),
        T.StructField("__p1", vdt, True)])))


def _key_names(args: list[A.Arg]) -> list[tuple[str, str]]:
    """pick-style args: bare name or ``alias: src`` (ops/path.rs:225)."""
    out = []
    for a in args:
        v = a.value
        src = v.name if isinstance(v, A.Ident) else (
            v.value if isinstance(v, A.Literal) and isinstance(v.value, str) else None)
        if src is None:
            raise CompileError("expected key name")
        out.append((a.name or src, src))
    return out


def m_pick(self, recv, args, env):
    c, d = OB.pick(recv.col, recv.dtype, _key_names(args))
    return TC(c, d)


def m_omit(self, recv, args, env):
    c, d = OB.omit(recv.col, recv.dtype, [s for _, s in _key_names(args)])
    return TC(c, d)


def _ob2(fn):
    def h(self, recv, args, env):
        other = self.compile(args[0].value, env)
        c, d = fn(recv.col, recv.dtype, other.col, other.dtype)
        return TC(c, d)
    return h


def m_rename(self, recv, args, env):
    obj = args[0].value
    if not isinstance(obj, A.ObjLit):
        raise CompileError("rename expects {old: new}")
    mapping = {}
    for f in obj.fields:
        v = f.value
        nm = v.name if isinstance(v, A.Ident) else (
            v.value if isinstance(v, A.Literal) else None)
        if not isinstance(nm, str):
            raise CompileError("rename values must be names")
        mapping[f.key] = nm
    c, d = OB.rename(recv.col, recv.dtype, mapping)
    return TC(c, d)


def _write_keys(self, recv, keys, leaf, env, require_object=True):
    """A path builtin's write (set/update/set_path/del_path): the one
    struct writer, ``patch.write_keys``."""
    from jetro_spark.jql.patch import write_keys

    if require_object:
        OB.require_struct(recv.dtype)
    return write_keys(self, recv, keys, leaf, env)


def _value(self, node, env) -> TC:
    v = self.compile(node, env)
    return TC(v.col, v.dtype or T.NullType())


def m_set(self, recv, args, env):
    if len(args) == 1:
        # non-rooted chain-write form: `x | set(v)` / `o.id.set(99)` in a
        # lambda returns just the rhs (INDEPTH.md:201; chain_write.rs
        # phaseb_lambda_body_writes_dont_leak_outside)
        return self.compile(args[0].value, env)
    key = _const_str(args, 0)
    v = _value(self, args[1].value, env)
    return _write_keys(self, recv, [key], lambda old: v, env)


def m_modify(self, recv, args, env):
    # non-rooted `.modify(λ)`: apply the lambda to the receiver
    fn, out_dt = self._lam(args[0].value, env, recv.dtype)
    return TC(fn(recv.col), out_dt)


def m_update(self, recv, args, env):
    """update(k, λ): set k to λ(old value); single-lambda form
    `x.update(λ)` applies λ to the receiver itself
    (mod.rs:235; defs.rs:2215-2223, examples.rs method_update)."""
    if len(args) == 1:
        fn, odt = self._lam(args[0].value, env, recv.dtype)
        return TC(fn(recv.col), odt or recv.dtype)
    key = _const_str(args, 0)

    def leaf(old: TC) -> TC:
        fn, odt = self._lam(args[1].value, env, old.dtype)
        return TC(fn(old.col), odt or T.NullType())
    return _write_keys(self, recv, [key], leaf, env)


def m_has(self, recv, args, env):
    names = [s for _, s in _key_names(args)]
    if is_objrepr(recv.dtype):
        conds = [F.exists(recv.col, lambda e, n=n: e["key"] == F.lit(n)) for n in names]
        out = conds[0]
        for x in conds[1:]:
            out = out & x
        return TC(out, T.BooleanType())
    c, d = OB.has_keys(recv.col, recv.dtype, names)
    return TC(c, d)


def m_missing(self, recv, args, env):
    h = m_has(self, recv, args, env)
    return TC(~h.col, T.BooleanType())


def m_transform_keys(self, recv, args, env):
    fn, _ = self._lam(args[0].value, env, T.StringType())
    c, d = OB.transform_keys(recv.col, recv.dtype, fn)
    return TC(c, d)


def m_transform_values(self, recv, args, env):
    def fn_with_dt(col, dt):
        fn, odt = self._lam(args[0].value, env, dt)
        return fn(col), odt or T.NullType()
    c, d = OB.transform_values(recv.col, recv.dtype, fn_with_dt)
    return TC(c, d)


def m_filter_keys(self, recv, args, env):
    pred = self._pred(args[0].value, env, T.StringType())
    c, d = OB.filter_keys(recv.col, recv.dtype, pred)
    return TC(c, d)


def m_filter_values(self, recv, args, env):
    def pred_with_dt(col, dt):
        return self._pred(args[0].value, env, dt)(col)
    c, d = OB.filter_values(recv.col, recv.dtype, pred_with_dt)
    return TC(c, d)


def m_get_path(self, recv, args, env):
    c, d = OB.get_path(recv.col, recv.dtype, _const_str(args, 0))
    return TC(c, d)


def m_has_path(self, recv, args, env):
    c, d = OB.has_path(recv.col, recv.dtype, _const_str(args, 0))
    return TC(c, d)


def m_set_path(self, recv, args, env):
    """set_path("a.b.c", v): missing or non-object intermediates become
    objects, on any receiver. Reference: ops/path.rs:324."""
    v = _value(self, args[1].value, env)
    return _write_keys(self, recv, OB.split_path(_const_str(args, 0)),
                       lambda old: v, env, require_object=False)


def m_del_path(self, recv, args, env):
    """Reference: ops/path.rs:317."""
    from jetro_spark.jql.patch import delete_leaf

    return _write_keys(self, recv, OB.split_path(_const_str(args, 0)),
                       delete_leaf, env)


def m_del_paths(self, recv, args, env):
    """Reference: ops/path.rs:331."""
    from jetro_spark.jql.patch import delete_leaf

    arr = args[0].value
    if not isinstance(arr, A.ArrLit):
        raise CompileError("del_paths expects a literal array of paths")
    paths = []
    for e in arr.elems:
        if not (isinstance(e.expr, A.Literal) and isinstance(e.expr.value, str)):
            raise CompileError("del_paths expects string literals")
        paths.append(e.expr.value)
    for p in paths:
        recv = _write_keys(self, recv, OB.split_path(p), delete_leaf, env)
    return recv


def m_unflatten_keys(self, recv, args, env):
    """Flat {"a.b.c": v} struct (dotted static field names) → nested
    struct: one set_path per field, onto an empty object. Static-schema
    inverse of flatten_keys; dynamic objrepr input would need runtime
    schema synthesis, which Spark cannot express. Reference:
    ops/path.rs:350."""
    out = TC(F.lit(None), T.StructType([]))
    for f in OB.require_struct(recv.dtype).fields:
        v = TC(recv.col.getField(f.name), f.dataType)
        out = _write_keys(self, out, OB.split_path(f.name),
                          lambda old, v=v: v, env, require_object=False)
    return out


# ------------------------------------------- positional analytics (§2.6)


_DARR = T.ArrayType(T.DoubleType())


def _num_arr(recv: TC) -> Column:
    """Coerce array elements to f64 exactly like the reference's
    ``numeric_options`` (ops/collection.rs:89-105): numeric elements cast
    to double, non-numeric elements become null, non-array receivers are
    a compile error."""
    if not isinstance(recv.dtype, T.ArrayType):
        raise CompileError(
            f"window builtin requires an array receiver, got {_family(recv.dtype)}")
    et = recv.dtype.elementType
    if isinstance(et, (T.NumericType, T.NullType)):
        return F.transform(recv.col, lambda x: x.cast("double"))
    if isinstance(et, T.VariantType):
        return F.transform(recv.col, lambda x: F.try_variant_get(x, "$", "double"))
    return F.transform(recv.col, lambda x: F.lit(None).cast("double"))


def _m_rolling(agg: str):
    def m(self, recv, args, env):
        n = _const_int(args, 0)
        if n <= 0:  # EvalError("rolling_*: window must be > 0"), mod.rs:1715
            raise CompileError(f"rolling_{agg}: window must be > 0")
        return TC(AR.rolling(_num_arr(recv), n, agg), _DARR)
    return m


def m_lag(self, recv, args, env):
    return TC(AR.lag(_num_arr(recv), _const_int(args, 0, 1)), _DARR)


def m_lead(self, recv, args, env):
    return TC(AR.lead(_num_arr(recv), _const_int(args, 0, 1)), _DARR)


def _m_win0(fn):
    def m(self, recv, args, env):
        return TC(fn(_num_arr(recv)), _DARR)
    return m


# Alternative spellings of builtins (registry.rs:384-388), the only place
# they are declared: METHODS and the relational stage table
# (engine.STAGES) are keyed by the canonical name alone.
ALIASES = {
    "find": "filter", "find_all": "filter", "drop": "skip",
    "takewhile": "take_while", "dropwhile": "drop_while",
    "find_one": "find_first", "sort_by": "sort", "reverse_str": "reverse",
    "distinct": "unique", "batch": "chunk", "contains": "includes",
    "index": "index_of", "exists": "any",
    # the reference spells cummax/cummin (defs.rs:2299,2314); cum_max/
    # cum_min are the operator-level spelling
    "cum_max": "cummax", "cum_min": "cummin",
    "to_pairs": "entries", "lstrip": "trim_left",
}

METHODS = {
    # arrays / pipelines (§2.3)
    "filter": m_filter, "map": m_map, "flat_map": m_flat_map,
    "take": m_take, "skip": m_skip,
    "take_while": m_take_while, "drop_while": m_drop_while,
    "first": m_first, "last": m_last, "nth": m_nth,
    "find_first": m_find_first,
    "find_index": m_find_index, "indices_where": m_indices_where,
    "sort": m_sort, "reverse": m_reverse,
    "unique": m_unique, "unique_by": m_unique_by,
    "compact": m_compact, "flatten": m_flatten,
    "append": m_append, "prepend": m_prepend, "remove": m_remove,
    "enumerate": m_enumerate, "pairwise": m_pairwise,
    "window": m_window, "chunk": m_chunk,
    "accumulate": m_accumulate, "partition": m_partition,
    "zip": m_zip, "zip_longest": m_zip_longest,
    "fanout": m_fanout, "collect": m_collect,
    "diff": m_diff, "intersect": m_intersect, "union": m_union,
    "includes": m_includes, "index_of": m_index_of,
    "last_index_of": m_last_index_of, "indices_of": m_indices_of,
    "zip_shape": m_zip_shape, "group_shape": m_group_shape,
    "join": m_join,
    # aggregates (§2.4)
    "len": m_len, "count": m_count,
    "sum": m_sum, "avg": m_avg, "min": m_min, "max": m_max,
    "any": m_any, "all": m_all,
    "min_by": m_min_by, "max_by": m_max_by,
    "group_by": m_group_by, "count_by": m_count_by, "index_by": m_index_by,
    "explode": m_explode_doc, "implode": m_implode_doc, "pivot": m_pivot_doc,
    "approx_count_distinct": m_approx_count_distinct,
    "equi_join": m_equi_join,
    # positional analytics (§2.6) — ops/collection.rs:124-343
    "lag": m_lag, "lead": m_lead,
    "rolling_sum": _m_rolling("sum"), "rolling_avg": _m_rolling("avg"),
    "rolling_min": _m_rolling("min"), "rolling_max": _m_rolling("max"),
    "cummax": _m_win0(AR.cum_max), "cummin": _m_win0(AR.cum_min),
    "diff_window": _m_win0(AR.diff_window), "pct_change": _m_win0(AR.pct_change),
    "zscore": _m_win0(AR.zscore),
    # object transforms (§2.7)
    "keys": m_keys, "values": m_values,
    "entries": m_entries,
    "from_pairs": _ob1(OB.from_pairs), "invert": _ob1(OB.invert),
    "pick": m_pick, "omit": m_omit,
    "merge": _ob2(OB.merge), "deep_merge": _ob2(OB.deep_merge),
    "defaults": _ob2(OB.defaults), "rename": m_rename,
    "set": m_set, "update": m_update, "modify": m_modify,
    "has": m_has, "missing": m_missing,
    "transform_keys": m_transform_keys, "transform_values": m_transform_values,
    "filter_keys": m_filter_keys, "filter_values": m_filter_values,
    # tree transforms (§2.10)
    "walk": lambda s, r, a, e: s.walk(r, a[0].value, e, pre=False),
    "walk_pre": lambda s, r, a, e: s.walk(r, a[0].value, e, pre=True),
    "trace_path": lambda s, r, a, e: s.trace_path(r, a[0].value, e),
    "schema": lambda s, r, a, e: s.schema_desc(r),
    # path ops (§2.8)
    "get_path": m_get_path, "has_path": m_has_path,
    "set_path": m_set_path, "del_path": m_del_path, "del_paths": m_del_paths,
    "flatten_keys": _ob1(OB.flatten_keys), "unflatten_keys": m_unflatten_keys,
    # strings (§2.9)
    "upper": _s1(S.upper), "lower": _s1(S.lower),
    "capitalize": _s1(S.capitalize), "title_case": _s1(S.title_case),
    "snake_case": _s1(S.snake_case), "kebab_case": _s1(S.kebab_case),
    "camel_case": _s1(S.camel_case), "pascal_case": _s1(S.pascal_case),
    "trim": _s1(S.trim), "trim_left": _s1(S.trim_left),
    "trim_right": _s1(S.trim_right),
    "pad_left": m_pad("left"), "pad_right": m_pad("right"), "center": m_pad("center"),
    "indent": m_indent, "repeat": m_repeat,
    "split": m_split, "lines": _s1(S.lines, T.ArrayType(T.StringType())),
    "words": _s1(S.words, T.ArrayType(T.StringType())),
    "chars": _s1(S.chars, T.ArrayType(T.StringType())),
    "chars_of": _s1(S.chars_of, T.ArrayType(T.LongType())),
    "byte_len": _s1(S.byte_len, T.LongType()),
    "starts_with": _s_arg(S.starts_with, T.BooleanType()),
    "ends_with": _s_arg(S.ends_with, T.BooleanType()),
    "strip_prefix": _s_arg(S.strip_prefix), "strip_suffix": _s_arg(S.strip_suffix),
    "matches": _s_arg(S.matches, T.BooleanType()),
    "slice": m_slice,
    "replace": m_replace, "replace_all": m_replace_all,
    "re_match": m_re_arg(S.re_match, T.BooleanType()),
    "re_match_first": m_re_arg(S.re_match_first, T.StringType()),
    "re_match_all": m_re_arg(S.re_match_all, T.ArrayType(T.StringType())),
    "re_captures": m_re_arg(S.re_captures, T.StringType()),
    "re_captures_all": m_re_arg(S.re_captures_all, T.ArrayType(T.StringType())),
    "re_split": m_re_arg(S.re_split, T.ArrayType(T.StringType())),
    "re_replace": m_re_replace, "re_replace_all": m_re_replace_all,
    "contains_any": m_contains_list(S.contains_any),
    "contains_all": m_contains_list(S.contains_all),
    "is_blank": _s1(S.is_blank, T.BooleanType()),
    "is_numeric": _s1(S.is_numeric, T.BooleanType()),
    "is_alpha": _s1(S.is_alpha, T.BooleanType()),
    "is_ascii": _s1(S.is_ascii, T.BooleanType()),
    "scan": _s_arg(S.scan, T.ArrayType(T.StringType())),
    "dedent": _s1(S.dedent),
    "bytes": _s1(S.bytes_of, T.ArrayType(T.LongType())),
    "to_bool": _s1(S.to_bool, T.BooleanType()),
    "parse_int": _s1(S.parse_int, T.LongType()),
    "parse_float": _s1(S.parse_float, T.DoubleType()),
    "parse_bool": _s1(S.parse_bool, T.BooleanType()),
    "to_number": _s1(S.to_number, T.DoubleType()),
    "to_string": m_to_string, "type": m_type, "or": m_or,
    "to_json": m_to_json, "from_json": m_from_json,
    "to_csv": _m_csv(","), "to_tsv": _m_csv("\t"),
    "to_base64": _s1(S.to_base64), "from_base64": _s1(S.from_base64),
    "url_encode": _s1(S.url_encode), "url_decode": _s1(S.url_decode),
    "html_escape": _s1(S.html_escape), "html_unescape": _s1(S.html_unescape),
    "ceil": _s1(S.ceil, T.LongType()), "floor": _s1(S.floor, T.LongType()),
    "round": m_round, "abs": _s1(S.abs_, None),
}
METHODS.update({a: METHODS[c] for a, c in ALIASES.items()})
