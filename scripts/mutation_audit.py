#!/usr/bin/env python
"""Gate-sensitivity (mutation) audit — r11 verdict item 3.

After five all-green rounds the open risk is no longer "is the code
right" but "would the gate NOTICE if it weren't". This harness breaks
load-bearing semantics ON PURPOSE — one small, realistic mutation at a
time — and confirms that an oracle row, a parity corpus, or a pinned
regression test fails. A mutation that survives its gate is a coverage
HOLE to close with a new oracle row/test, not a pass.

Usage: python scripts/mutation_audit.py [name ...]   # default: all

Each mutation = exact-string patch + the NARROWEST gate expected to
kill it (so the audit runs in minutes, not hours). Files are restored
from in-memory snapshots in a finally block; run on a clean tree.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENGINE = "jetro_spark/jql/engine.py"
RELATIONAL = "jetro_spark/operators/relational.py"
ARRAYS = "jetro_spark/functions/arrays.py"
CORE = "jetro_spark/functions/core.py"
PATCH = "jetro_spark/jql/patch.py"


def oracle(*names: str) -> list[str]:
    return [sys.executable, "scripts/check_oracle.py",
            "/root/testdata/sf0.01", *names]


def pytest(*args: str) -> list[str]:
    return [sys.executable, "-m", "pytest", "-x", "-q", *args]


# (name, semantic, file, old, new, [gate commands — killed when ANY
#  exits nonzero])
MUTATIONS = [
    (
        "join_right_wins",
        "equi_join merge: RIGHT wins on column collision (array.rs:544)",
        RELATIONAL,
        '''    for c in left.columns:
        if c not in right_cols and c != "__jk_eq":  # right wins on collision
            out.append(F.col(f"__l.{c}").alias(c))
    for c in right.columns:
        if c != "__jk_eq":
            out.append(F.col(f"__r.{c}").alias(c))''',
        '''    for c in left.columns:
        if c != "__jk_eq":
            out.append(F.col(f"__l.{c}").alias(c))
    for c in right.columns:
        if c not in set(left.columns) and c != "__jk_eq":
            out.append(F.col(f"__r.{c}").alias(c))''',
        [pytest("tests/test_operators.py", "-k", "right_wins")],
    ),
    (
        "slice_closed_end",
        "slice [a:b] is HALF-OPEN (grammar.pest:65-70)",
        CORE,
        "        length = F.greatest(hi - lo, F.lit(0))",
        "        length = F.greatest(hi - lo + 1, F.lit(0))",
        [pytest("tests/test_functions.py", "-k", "slices"),
         pytest("tests/test_jql.py", "-k", "nav or slice or arr")],
    ),
    (
        "sum_empty_null",
        "sum([]) = 0, not SQL-null (pipeline.rs:320-329)",
        ARRAYS,
        '''    return F.aggregate(
        F.array_compact(vals), F.lit(0).cast("double"), lambda acc, x: acc + x.cast("double")
    )''',
        '''    return F.when(F.size(F.array_compact(vals)) == 0,
                  F.lit(None).cast("double")).otherwise(F.aggregate(
        F.array_compact(vals), F.lit(0).cast("double"),
        lambda acc, x: acc + x.cast("double")))''',
        [pytest("tests/test_functions.py", "-k", "sum or agg"),
         pytest("tests/test_examples_parity.py")],
    ),
    (
        "unique_last_occurrence",
        "unique keeps FIRST occurrence (ops/collection.rs:77)",
        ARRAYS,
        "    return F.array_distinct(arr)",
        "    return F.reverse(F.array_distinct(F.reverse(arr)))",
        [pytest("tests/test_functions.py", "-k",
                "unique_keeps_first_occurrence")],
    ),
    (
        "index_by_first_wins",
        "index_by: LAST occurrence wins (ops/array.rs:988-1004)",
        RELATIONAL,
        '    aggs = [F.max_by(payload, o).alias("value")]',
        '    aggs = [F.min_by(payload, o).alias("value")]',
        [oracle("index_by", "jql_group_by")],
    ),
    (
        "truthy_empty_string",
        "truthiness: empty string is FALSE (util.rs:63-74)",
        CORE,
        '        return F.coalesce(F.length(col) > 0, F.lit(False))',
        '        return F.coalesce(col.isNotNull(), F.lit(False))',
        [pytest("tests/test_functions.py", "-k", "truthiness")],
    ),
    (
        "join_right_order_reversed",
        "equi_join emits right matches in right-ARRAY order "
        "(array.rs:505-531)",
        ENGINE,
        "            out_order = order + [(F.col(rid), False)]",
        "            out_order = order + [(F.col(rid), True)]",
        [pytest("tests/test_regressions.py", "-k",
                "right or null_bucket")],
    ),
    (
        "group_keys_last_seen",
        "keyed reducers emit first-SEEN key order (IndexMap insertion)",
        RELATIONAL,
        '''        aggs.append(F.min(o).alias(emit_order))
    return (df.groupBy(k.cast("string").alias(key_alias))
            .agg(*aggs))


def count_by''',
        '''        aggs.append(F.max(o).alias(emit_order))
    return (df.groupBy(k.cast("string").alias(key_alias))
            .agg(*aggs))


def count_by''',
        [pytest("tests/test_regressions.py", "-k", "let_bound_subplans")],
    ),
    (
        "take_off_by_one",
        "take(n) keeps exactly n rows",
        ENGINE,
        """    def _take(self, p, args, env, tail):
        return self._positional(p, tail.q, _lit_int(args[0].value))""",
        """    def _take(self, p, args, env, tail):
        return self._positional(p, tail.q, _lit_int(args[0].value) + 1)""",
        [oracle("sort_take", "jql_sort_take")],
    ),
    (
        "null_key_drops",
        'present-null join keys match under the val_to_key "null" '
        "bucket (util.rs:216-226) — r11 fix",
        ENGINE,
        """        key_kw = ({} if synth else _join_key_kwargs(
            df.schema[lk].dataType, other.schema[rk].dataType,
            lk, rk))""",
        """        key_kw = {}""",
        [pytest("tests/test_regressions.py", "-k",
                "null_bucket or cross_family_keys")],
    ),
    # ------------------------------------------------- r12 additions:
    # the r11 verdict asked the audit to cover the r11 semantics
    # themselves (the least-aged code), plus this round's fixes.
    (
        "extreme_by_nonstrict",
        "min_by/max_by improvement is STRICT — ties keep the FIRST "
        "element (array.rs:341-375)",
        ARRAYS,
        '''def max_by(arr: Column, key: Lambda) -> Column:
    """Reference: ops/array.rs:341-375."""
    return _extreme_by(arr, key, lambda kx, ka: kx > ka)''',
        '''def max_by(arr: Column, key: Lambda) -> Column:
    """Reference: ops/array.rs:341-375."""
    return _extreme_by(arr, key, lambda kx, ka: kx >= ka)''',
        [pytest("tests/test_regressions.py", "-k",
                "extreme_by_null_keys")],
    ),
    (
        "first_null_override_removed",
        "a null-keyed FIRST element wins min_by/max_by outright "
        "(nothing strictly improves on it) — relational sink",
        ENGINE,
        '''        if not df.select(col.alias("__xb_k")).schema["__xb_k"].nullable:
            return p.then(self._pad_single_null(extreme))''',
        '''        if True:
            return p.then(self._pad_single_null(extreme))''',
        [pytest("tests/test_regressions.py", "-k",
                "extreme_by_null_keys")],
    ),
    (
        "null_sort_keys_last",
        "null sort keys place FIRST in both directions (the explicit "
        "(isNull, desc) order entry, r11)",
        ENGINE,
        '''    return [k for col2, d2 in keys
            for k in ((col2.isNull().cast("int"), True), (col2, d2))]''',
        '''    return list(keys)''',
        [pytest("tests/test_regressions.py", "-k",
                "null_sort_keys_first")],
    ),
    (
        "last_n_reversed",
        "last(n>=2) keeps ORIGINAL order (collection.rs:358-369, the "
        "r11 fix un-reversing the tail)",
        ARRAYS,
        '''    if n >= 0:
        return let_(arr, lambda a: F.slice(
            a, F.greatest(F.size(a) - n + 1, F.lit(1)), n))''',
        '''    if n >= 0:
        return F.reverse(let_(arr, lambda a: F.slice(
            a, F.greatest(F.size(a) - n + 1, F.lit(1)), n)))''',
        # r12 audit catch: the first gate wiring (test_pipeline_stages
        # -k last) SURVIVED — those rows pin only the RELATIONAL
        # lowering; AR.last is the DOC-mode array function, pinned by
        # test_positional (direct) and the doc-suite parity corpus
        [pytest("tests/test_functions.py", "-k", "positional"),
         pytest("tests/test_pipeline_stages.py", "-k", "last")],
    ),
    (
        "accumulate_nulls_skipped",
        "a null term POISONS the running fold from its position on "
        "(doc-mode add_vals has no null case; r11 soak catch)",
        ENGINE,
        '''        out = df.select(
            F.when(seen_null == 1, F.lit(None).cast(out_t))
            .otherwise(run).alias("value"), *hid)''',
        '''        out = df.select(run.alias("value"), *hid)''',
        [pytest("tests/test_regressions.py", "-k",
                "accumulate_null_elements_poison")],
    ),
    (
        "join_order_rematerialize_bypassed",
        "equi_join rematerializes the carried order into hidden slots "
        "BEFORE the right-wins merge (r11 soak catch)",
        ENGINE,
        '''        if order is not None:
            # materialize the carried order into hidden columns
            # BEFORE the merge: the right-wins column overwrite
            # rebinds name-resolved order exprs — `sort(-v)
            # .equi_join($.d, ...)` re-sorted by the RIGHT side's v
            # (r11 soak catch via the duplicate-key d table), the
            # same rebinding class _select_carry handles for map
            df, order = self._rematerialize_order(df, order)''',
        '''        if order is not None:
            pass''',
        [pytest("tests/test_regressions.py", "-k",
                "survives_right_wins")],
    ),
    (
        "string_keys_null_safe",
        'string join keys must route through the canonical "null" '
        'bucket — eqNullSafe keeps NULL distinct from the literal '
        '"null" string (r12 advice)',
        ENGINE,
        '''    for fam in (ints, flts, T.BooleanType,
                T.DateType, T.TimestampType):''',
        '''    for fam in (ints, flts, T.StringType, T.BooleanType,
                T.DateType, T.TimestampType):''',
        [pytest("tests/test_regressions.py", "-k",
                "string_null_key_collides")],
    ),
    (
        "comp_trust_forced",
        "comprehension order trust requires EVERY generator source "
        "table to be order-trusted (r11 advice)",
        ENGINE,
        '''        gens = n.gens or [(n.vars, n.source)]
        for _, src in gens:
            t = self._table_of(src)
            if t is not None and not self._tables_ordered.get(t, True):
                return False
        return True''',
        '''        return True''',
        [pytest("tests/test_regressions.py", "-k",
                "comp_over_untrusted")],
    ),
    (
        "bare_sort_nulls_last",
        "bare ascending .sort() places null elements FIRST "
        "(engine-wide convention; r12 advice)",
        ARRAYS,
        '''    if key is None and not desc:
        return F.sort_array(arr)''',
        '''    if key is None and not desc:
        return F.array_sort(arr)''',
        [pytest("tests/test_regressions.py", "-k",
                "bare_sort_null_elements")],
    ),
    (
        "precollapse_max_id_rep",
        "semantic_dedup pre-collapse represents a group by its MIN id "
        "(the keep-order tie-break; r12)",
        "jetro_spark/llm/dedup.py",
        '''              .agg(F.min("__sd_gid").alias("__sd_rid"),''',
        '''              .agg(F.max("__sd_gid").alias("__sd_rid"),''',
        [pytest("tests/test_llm.py", "-k", "precollapse"),
         pytest("tests/test_skew.py", "-k", "hot_cell_precollapse")],
    ),
    (
        "precollapse_selfcos_dropped",
        "pre-collapse drops non-min group members ONLY when the "
        "group's self-cosine passes the threshold (zero/NaN/null "
        "vectors never pair; r12)",
        "jetro_spark/llm/dedup.py",
        '''    dup_groups = (groups.filter(F.col("__sd_gn") > 1)
                  .filter(self_cos >= F.lit(float(threshold)))
                  .select("__sd_gv", "__sd_rid"))''',
        '''    dup_groups = (groups.filter(F.col("__sd_gn") > 1)
                  .select("__sd_gv", "__sd_rid"))''',
        [pytest("tests/test_llm.py", "-k", "precollapse")],
    ),
    # ------------------------------------------------- r13 semantics
    (
        "pad_union_of_limits",
        "_pad_single_null is an ungrouped AGGREGATE — reverting to the "
        "old null-row-union + orderBy(pri) + limit(1) re-creates the "
        "Sort+GlobalLimit-above-Union shape Spark 4.1 AQE can drop "
        "(r12); killed DETERMINISTICALLY by the plan-shape audit, not "
        "the flaky AQE repro",
        ENGINE,
        '''        fields = taken.schema.fields
        w = taken.agg(F.first(F.struct(
            *[F.col(f.name) for f in fields])).alias("__w"))
        return w.select(*[F.col("__w").getField(f.name).alias(f.name)
                          for f in fields])''',
        '''        fields = taken.schema.fields
        nulls = taken.sparkSession.range(1).select(
            *[F.lit(None).cast(f.dataType.simpleString()).alias(f.name)
              for f in fields]).withColumn("__pad_pri", F.lit(1))
        cand = taken.withColumn("__pad_pri", F.lit(0)).unionByName(nulls)
        return (cand.orderBy(F.col("__pad_pri").asc()).limit(1)
                .drop("__pad_pri"))''',
        [pytest("tests/test_plan_audit.py", "-k", "setop_sinks")],
    ),
    (
        "has_union_flag_dropped",
        "the set-op union stage must flag its query (Query.has_union) so "
        "positional sinks avoid a bare GlobalLimit above the Union (r13)",
        ENGINE,
        '''        tail.q.has_union = True
        return p.then(recv2.unionByName(newb2), union_order)''',
        '''        return p.then(recv2.unionByName(newb2), union_order)''',
        [pytest("tests/test_plan_audit.py", "-k", "setop_sinks")],
    ),
    (
        "let_body_fresh_query",
        "a let body shares its binding's query, so a Union in the "
        "binding still routes the body's positional sinks through the "
        "row_number prefix",
        ENGINE,
        '''        return child.compile_node(n.body, demand_order, q)''',
        '''        return child.compile_node(n.body, demand_order)''',
        [pytest("tests/test_stage_table.py", "-k",
                "let_bound_union")],
    ),
    (
        "setop_keys_null_safe",
        "cross-family set-op membership keys by val_to_key canonical "
        "strings — eqNullSafe would ANSI-coerce and crash, and misses "
        'the "null"/container key collisions (r12/r13 advice)',
        "jetro_spark/jql/compiler.py",
        '''    return let_(other, lambda bb: F.filter(
        arr, lambda x: F.coalesce(
            F.exists(bb, lambda o: ka(x) == kb(o)), F.lit(False))
        == F.lit(keep_present)))''',
        '''    return let_(other, lambda bb: F.filter(
        arr, lambda x: F.coalesce(
            F.exists(bb, lambda o: x.eqNullSafe(o)), F.lit(False))
        == F.lit(keep_present)))''',
        [pytest("tests/test_val_to_key.py")],
    ),
    (
        "string_null_bucket_dropped",
        'string set-op / membership canonicalization dropped: a NULL '
        'keys "null" and must collide with the literal string and with '
        "container JSON text (r13 advice items 2+3)",
        "jetro_spark/jql/compiler.py",
        '''    if "string" in (fa, fb):
        other = fb if fa == "string" else fa
        return other in ("string", "null", "array", "object")
    return False''',
        '''    if "string" in (fa, fb):
        other = fb if fa == "string" else fa
        return other in ("array", "object")
    return False''',
        [pytest("tests/test_val_to_key.py")],
    ),
    (
        "union_dtype_stale",
        "union's claimed result dtype is the UNIFIED element type — "
        "the receiver's dtype makes downstream lambdas compile against "
        "the wrong element type (r12 soak catch)",
        "jetro_spark/jql/compiler.py",
        '''    out_elem = unify([ea, eb])
    out_dt = (T.ArrayType(out_elem) if out_elem is not None
              else (recv.dtype if not isinstance(_elem(recv), T.NullType)
                    else other.dtype))''',
        '''    out_elem = unify([ea, eb])
    out_dt = recv.dtype''',
        [pytest("tests/test_regressions.py", "-k",
                "union_result_dtype")],
    ),
    (
        "widen_first_wins",
        "cross-shape object union widens CONFLICTING fields to VARIANT "
        "— first-wins made the widen cast string→bigint and ANSI-crash "
        "(r12)",
        "jetro_spark/jql/compiler.py",
        '''        u = T.StructType([
            T.StructField(
                f.name,
                f.dataType if unify([d for d in (at.get(f.name),
                                                 bt2.get(f.name))
                                     if d is not None]) is not None
                else T.VariantType(), True)
            for f in u0.fields])''',
        '''        u = u0''',
        [pytest("tests/test_regressions.py", "-k",
                "cross_family_fields_never_coerce")],
    ),
    (
        "max_cell_off_by_one",
        "max_cell keeps cells with EXACTLY max_cell members "
        "(<=, the LSH max_bucket contract; r12)",
        "jetro_spark/llm/dedup.py",
        '''            cell_sizes.filter(F.col("count") <= max_cell).drop("count"),''',
        '''            cell_sizes.filter(F.col("count") < max_cell).drop("count"),''',
        [pytest("tests/test_llm.py", "-k", "max_cell_cap")],
    ),
    (
        "member_losers_group_floor",
        "pre-collapse member losers come from EVERY multi-member "
        "group (gn > 1) — raising the floor keeps 2-member groups' "
        "non-min members (r12)",
        "jetro_spark/llm/dedup.py",
        '''    dup_groups = (groups.filter(F.col("__sd_gn") > 1)''',
        '''    dup_groups = (groups.filter(F.col("__sd_gn") > 2)''',
        [pytest("tests/test_llm.py", "-k", "precollapse")],
    ),
    # --- ingest: the one document path (from_json into a LocalRelation)
    (
        "infer_schema_alphabetical",
        "document schemas keep insertion order (IndexMap, value.rs:47); "
        "struct fields sorted by name — read.json's order — change what "
        "order-observing queries return",
        ENGINE,
        """            key = ("o", tuple([(k, self.shape(x)) for k, x in v.items()]))""",
        """            key = ("o", tuple([(k, self.shape(x))
                               for k, x in sorted(v.items())]))""",
        [pytest("tests/test_regression_parity.py")],
    ),
    (
        "infer_schema_null_blind",
        "an array's shape (the type memo's key) includes whether a null "
        "element occurs — without it [1, null] reuses the type built "
        "for [1, 2] and claims containsNull=false",
        ENGINE,
        """            key = ("a", tuple(e for e in elems if e != _NULL),
                   _NULL in elems)""",
        """            key = ("a", tuple(e for e in elems if e != _NULL),
                   False)""",
        [pytest("tests/test_ingest_schema.py", "-k",
                "null_element_is_part_of_the_shape")],
    ),
    # --- table load: schemas from the parquet footers, no Spark job
    (
        "footer_schema_before_nanos_conf",
        "load_tables reads the footer schemas AFTER setting nanosAsLong: "
        "Spark's footer converter reads the session conf, and without it "
        "a TIMESTAMP(NANOS) column does not convert",
        "jetro_spark/session.py",
        """    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    paths = {name: os.path.join(sf_dir, f"{name}.parquet") for name in TABLES}
    paths = {name: p for name, p in paths.items() if os.path.exists(p)}
    schemas = parquet_schemas(spark, list(paths.values()))
""",
        """    paths = {name: os.path.join(sf_dir, f"{name}.parquet") for name in TABLES}
    paths = {name: p for name, p in paths.items() if os.path.exists(p)}
    schemas = parquet_schemas(spark, list(paths.values()))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
""",
        [pytest("tests/test_load_tables.py", "-k", "nanosecond")],
    ),
    # --- path writes: the one struct writer (jql/patch.py)
    (
        "empty_object_sentinel",
        "deleting the last field of an object leaves the EMPTY object; "
        "a placeholder field leaks into results",
        PATCH,
        """    # deleting the last field leaves the empty object: F.struct()
    return F.struct(*cols), T.StructType(fields)""",
        """    if not cols:
        return F.struct(F.lit(None).alias("__empty")), \\
            T.StructType([T.StructField("__empty", T.NullType(), True)])
    return F.struct(*cols), T.StructType(fields)""",
        [pytest("tests/test_patch.py", "-k",
                "last_field_leaves_an_empty_object")],
    ),
    (
        "element_write_cast",
        "an element write that adds or deletes a field null-pads the "
        "elements by field name; a struct cast fails (or pairs the "
        "fields by position)",
        PATCH,
        """    if names_differ(have, want):
        return widen_struct(c, have, want)
    return c.cast(want)""",
        """    return c.cast(want)""",
        [pytest("tests/test_patch.py", "-k", "null_pads")],
    ),
    # --- r14: remove/unique val_to_key semantics (r13 verdict item 4)
    (
        "remove_path_arg_predicate",
        "remove's non-lambda arg is a VALUE (mod.rs:2557-2562) — "
        "reverting paths to per-element predicate dispatch must be "
        "caught by the pinned remove($.missing)/remove($.p[0]) cases",
        "jetro_spark/jql/compiler.py",
        '''    if not isinstance(node, A.Lambda):
        # value form (BuiltinArgs::Val, defs.rs:159): object/array''',
        '''    if not isinstance(node, (A.Lambda, A.Path)):
        # value form (BuiltinArgs::Val, defs.rs:159): object/array''',
        [pytest("tests/test_val_to_key.py", "-k", "doc")],
    ),
    (
        "key_collide_drop_container_class",
        "_key_collide: string-vs-container collision class (a string "
        "equal to the compact JSON text keys equal, util.rs:228-243)",
        "jetro_spark/jql/compiler.py",
        '''        return other in ("string", "null", "array", "object")''',
        '''        return other in ("string", "null")''',
        [pytest("tests/test_val_to_key.py", "-k", "doc")],
    ),
    (
        "string_unique_fixup_eager",
        "string unique's collision fixup must BIND array_distinct "
        "once (let_) — eager inlining re-evaluates the distinct per "
        "HOF branch reference (the r13 bl_q2 hang class)",
        "jetro_spark/jql/compiler.py",
        '''            return let_(F.array_distinct(arr), inner)''',
        '''            return inner(F.array_distinct(arr))''',
        [pytest("tests/test_val_to_key.py", "-k", "binds_distinct")],
    ),
    (
        "unique_first_occurrence_invert",
        "unique's null/\"null\" collision keeps the FIRST occurrence "
        "(its null-ness intact) — inverting the position pick keeps "
        "the later one",
        "jetro_spark/jql/compiler.py",
        '''                .when(pos_lit < pos_null,''',
        '''                .when(pos_lit > pos_null,''',
        [pytest("tests/test_val_to_key.py")],
    ),
    (
        "unique_schema_gate_unsound",
        "the r14 containsNull gate may skip the fixup ONLY when the "
        "schema PROVES null-free — skipping unconditionally breaks "
        "every nullable collision case",
        "jetro_spark/jql/compiler.py",
        '''        if (isinstance(recv.dtype, T.ArrayType)
                and not recv.dtype.containsNull):''',
        '''        if isinstance(recv.dtype, T.ArrayType):''',
        [pytest("tests/test_val_to_key.py")],
    ),
    (
        "struct_path_nullable_false",
        "map fast-path containsNull claim: a nullable hop field must "
        "mark the mapped array containsNull (else unique()'s fixup is "
        "skipped on data that CAN hold nulls)",
        "jetro_spark/jql/compiler.py",
        '''        if dt[nm].nullable:
            return True''',
        '''        if dt[nm].nullable and False:
            return True''',
        [pytest("tests/test_val_to_key.py", "-k", "nullable_map")],
    ),
]


def run_gate(cmds: list[list[str]]) -> tuple[bool, str]:
    """True (killed) when any gate command fails. pytest exit 5 means
    NO TESTS COLLECTED — a miswired -k filter, not a kill (r11: the
    slice gate "killed" on an empty selection)."""
    ran = 0
    for cmd in cmds:
        r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                           timeout=900)
        if r.returncode == 5:
            continue
        ran += 1
        if r.returncode != 0:
            tail = (r.stdout or r.stderr).strip().splitlines()[-1:]
            return True, f"killed by: {' '.join(cmd[-3:])} ({tail})"
    if ran == 0:
        return False, "NO GATE RAN (every selection was empty)"
    return False, "SURVIVED every gate"


def main() -> int:
    only = set(sys.argv[1:])
    results = []
    for name, semantic, path, old, new, gates in MUTATIONS:
        if only and name not in only:
            continue
        full = os.path.join(REPO, path)
        src = open(full).read()
        if old not in src:
            results.append((name, None, "PATCH NOT APPLICABLE "
                            f"(string drifted in {path})"))
            continue
        assert src.count(old) == 1, f"{name}: ambiguous patch site"
        try:
            open(full, "w").write(src.replace(old, new))
            killed, how = run_gate(gates)
        finally:
            open(full, "w").write(src)
        results.append((name, killed, how))
        print(f"[{'KILLED' if killed else 'SURVIVED'}] {name}: {how}",
              flush=True)

    print("\n=== kill matrix ===")
    bad = 0
    for name, killed, how in results:
        mark = "ok" if killed else "HOLE"
        if not killed:
            bad += 1
        print(f"{mark:5} {name}: {how}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
