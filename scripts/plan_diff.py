#!/usr/bin/env python
"""Plan comparison for relational-mode refactors: record each corpus
expression's normalized optimized plan and doc-fallback flag, then list
the expressions whose entries differ between two recordings.

Record (``jetro_spark`` is imported from ``PYTHONPATH``, so the same
corpus can be recorded against another checkout)::

    PYTHONPATH=../parent python scripts/plan_diff.py parent.json \
        --sf-dir <sf0.01 tables>
    PYTHONPATH=. python scripts/plan_diff.py change.json --sf-dir ...

Compare (exit status 1 when any entry differs)::

    python scripts/plan_diff.py --compare parent.json change.json

Every plan is built on a fresh ``JetroTables`` handle. The corpus is
read from this checkout's tests, so both recordings see the same
expressions:

- the ``$.s…`` strings of ``tests/test_pipeline_stages.py``;
- the JetroTables-backed ``jql_*`` gate rows (over ``--sf-dir``; left
  out when it is not given);
- seeded ``sort(k)`` + mid-stage + sink combinations drawn from the
  vocabulary of ``tests/test_differential_modes.py``;
- that module's let-bound, comprehension and table-argument shapes;
- a hand-picked list (aliases, unsorted and union-carrying positional
  sinks, keyed reducers, set ops, let-bound unions).

Plans are compared after ``normalize_plan``: expression ids, the
numbered names of higher-order-function lambda variables and the numeric
suffixes of the engine's hidden ``__`` columns carry process-wide or
per-query counters, not plan shape.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import re
import sys
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_EXPR_ID = re.compile(r"#\d+")
_LAMBDA_VAR = re.compile(r"\b(lambda \w+?)_\d+#")
_HIDDEN = re.compile(r"\b(__[A-Za-z_]+?)\d+")


def normalize_plan(plan: str) -> str:
    """Strip the counters out of a plan string (see module docstring)."""
    plan = _LAMBDA_VAR.sub(r"\1#", plan)
    plan = _EXPR_ID.sub("#", plan)
    return _HIDDEN.sub(r"\1N", plan)


# ------------------------------------------------------------ corpus

HAND_PICKED = [
    # aliases of lowered builtins
    "$.s.find_all(v > 2).take(2)", "$.s.sort(k).map(v).batch(3)",
    "$.s.map(g).reverse_str()", "$.s.contains(x => x.v > 40).first()",
    # unsorted positional sinks (scan-order surrogate)
    "$.s.first()", "$.s.last()", "$.s.take(3)", "$.s.skip(2)",
    "$.s.nth(2)", "$.s.nth(-2)", "$.s[1]", "$.s[1:3]", "$.s.reverse()",
    "$.s.map(v).last(3)", "$.s.min_by(v)", "$.s.max_by(k)",
    # union-carrying positional sinks (row_number prefix)
    "$.s.union($.u).take(2)", "$.s.union($.u).first()",
    "$.s.union($.u).skip(1)", "$.s.sort(k).union($.u).take(3)",
    "$.s.map(v).union($.u.map(v)).first()",
    "$.s.union($.u).min_by(v)", "$.s.sort(k).union($.d).last()",
    # let-bound unions
    "let a = $.s.union($.u) in a.take(2)",
    "let a = $.s.union($.u) in a.first()",
    "let a = $.s.union($.u) in a.skip(1)",
    "let a = $.s.map(v).union($.u.map(v)) in a.take(2)",
    "let a = $.s.sort(k).union($.u) in a.take(2)",
    # keyed reducers
    "$.s.group_by(g)", "$.s.sort(-v).group_by(g).keys()",
    "$.s.count_by(g)", "$.s.count_by(g).keys()", "$.s.index_by(g)",
    "$.s.map({g: g, v: v}).implode(v)", "$.s.pivot(g, v)",
    "$.s.pivot(g, v).keys()", "$.s.pivot(g, k, v)",
    "$.s.group_shape(x => x.g, a => a.map(v))",
    # set ops and joins
    "$.s.diff($.u)", "$.s.intersect($.u)", "$.s.union($.u)",
    "$.s.sort(k).diff($.u).first()", "$.s.map(g).union($.n.map(x => x.k))",
    '$.s.equi_join($.u, "k", "k")', '$.s.equi_join($.u, "k", "k").first()',
    '$.s.equi_join($.d.filter(v > 202), "k", "k").first()',
    '$.s.sort(-v).equi_join($.d, "k", "k").take(3)',
    # comprehensions
    "[x.k for x in $.s]", "[x.k for x in $.s].first()",
    "{x.g for x in $.s}.last()",
    "[[o.k, p.k] for o in $.s for p in $.u if o.g == p.g].nth(2)",
    "[x.v for x in $.s if x.v > 40].take(3)",
    # nested lets and scalar lets
    "let n = 3 in $.s.filter(k > n).count()",
    "let a = (let b = 1 in $.s.sort(-v).group_by(g)) in a.first()",
    "let a = $.s.sort(k) in let b = a.union($.u) in b.take(2)",
    "let a = $.s.group_by(g) in a.last()",
    # `@` in stage arguments is the pipeline element
    "$.s.map(v).filter(@ > 2)", "$.s.map(v).map(@ * 2)",
    "$.s.map(v).flat_map([@, @ + 100.0]).len()",
    # predicate sinks over one-column object rows
    "$.s.sort(k).map({v: v}).count(x => x.v > 40)",
    "$.s.sort(k).map({v: v}).find_index(x => x.v > 40)",
]


def _load_module(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _strings(path: str, prefix: str) -> list[str]:
    src = open(path).read()
    out = []
    for q in ('"', "'"):
        pat = re.escape(q) + "(" + re.escape(prefix) \
            + r"(?:[^" + q + r"\\]|\\.)*)" + re.escape(q)
        out.extend(re.findall(pat, src))
    return list(dict.fromkeys(out))


def _vocab(strategy) -> list[str]:
    return list(strategy.elements)


def differential_exprs(dm, count: int = 300) -> list[str]:
    """Seeded `$.s.sort(k)` + mid + scalar-mid + sink combinations and the
    module's let-bound / comprehension / table-argument shapes."""
    rng = random.Random(1)
    mid, smid = _vocab(dm._MID), _vocab(dm._SCALAR_MID)
    sink, ksink = _vocab(dm._SINK), _vocab(dm._KEYED_SINK)
    let_sink = _vocab(dm._LET_SINK)
    bodies, src_sinks = _vocab(dm._LET_BODY), _vocab(dm._LET_SRC_SINK)
    out = []
    for _ in range(count):
        mids = "".join(rng.choice(mid) for _ in range(rng.randint(0, 3)))
        scal = rng.choice(smid) if rng.random() < 0.4 else ""
        out.append("$.s.sort(k)" + mids + scal + rng.choice(sink))
    for _ in range(count // 4):
        mids = "".join(rng.choice(mid) for _ in range(rng.randint(0, 2)))
        out.append("$.s.sort(k)" + mids + rng.choice(ksink))
    for _ in range(count // 4):
        mids = "".join(rng.choice(mid) for _ in range(rng.randint(0, 2)))
        out.append("let a = $.s.sort(k)" + mids + " in a"
                   + rng.choice(let_sink))
    for _ in range(count // 4):
        bind = "$.s.sort(k)" + "".join(
            rng.choice(mid) for _ in range(rng.randint(0, 2)))
        if rng.random() < 0.5:
            bind = f"(let b = 1 in {bind})"
        out.append(f"let a = {bind} in "
                   + rng.choice(bodies).format(s=rng.choice(src_sinks)))
    return list(dict.fromkeys(out))


def corpus(spark, sf_dir: str | None):
    """[(expr, tables)] in a fixed order."""
    dm = _load_module(os.path.join(REPO, "tests",
                                   "test_differential_modes.py"),
                      "plan_diff_differential_modes")
    diff_tables = {"s": dm._table(spark), "u": dm._table_u(spark),
                   "d": dm._table_d(spark), "n": dm._table_n(spark)}
    seq = {
        "s": spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2])],
            "k int, v double"),
        "u": spark.createDataFrame([(0, "x"), (1, "y")],
                                   "i long, lbl string"),
    }
    items = [(e, seq) for e in _strings(
        os.path.join(REPO, "tests", "test_pipeline_stages.py"), "$.s")]
    items += [(e, diff_tables) for e in HAND_PICKED]
    items += [(e, diff_tables) for e in differential_exprs(dm)]
    if sf_dir:
        from jetro_spark.gate import jql as gate_jql
        from jetro_spark.session import load_tables

        sf = load_tables(spark, sf_dir, register=False)
        for fn in gate_jql.QUERIES.values():
            doc = fn.__doc__ or ""
            m = re.match(r"jql(?: \(flattened groups\))?: (.*)", doc, re.S)
            if m:
                items.append((m.group(1), sf))
    return items


# ------------------------------------------------------------ record


def plan_entry(spark, expr: str, tables) -> dict:
    from jetro_spark.jql.engine import JetroTables

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        try:
            df = JetroTables(spark, tables).query(expr)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as exc:  # recorded: an error is an entry too
            msg = str(exc).splitlines()[0] if str(exc) else type(exc).__name__
            return {"error": normalize_plan(msg)[:300]}
    fell_back = any("no relational lowering" in str(w.message) for w in rec)
    return {"plan": normalize_plan(plan), "fallback": fell_back}


def record(out: str, sf_dir: str | None) -> int:
    from jetro_spark.session import get_spark

    spark = get_spark("plan_diff", cpus=2)
    spark.sparkContext.setLogLevel("OFF")
    result = {}
    for expr, tables in corpus(spark, sf_dir):
        if expr not in result:
            result[expr] = plan_entry(spark, expr, tables)
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    n_fb = sum(1 for v in result.values() if v.get("fallback"))
    n_err = sum(1 for v in result.values() if "error" in v)
    print(f"{len(result)} expressions: {n_fb} fallbacks, {n_err} errors "
          f"-> {out}")
    return 0


def compare(a_path: str, b_path: str) -> int:
    a, b = json.load(open(a_path)), json.load(open(b_path))
    differ = sorted(e for e in set(a) & set(b) if a[e] != b[e])
    only = sorted(set(a) ^ set(b))
    for e in differ:
        what = [k for k in ("plan", "fallback", "error")
                if a[e].get(k) != b[e].get(k)]
        print(f"DIFFERS ({', '.join(what)}): {e}")
    for e in only:
        print(f"ONLY IN {'A' if e in a else 'B'}: {e}")
    same = len(set(a) & set(b)) - len(differ)
    print(f"{same} identical, {len(differ)} differ, {len(only)} unpaired")
    return 1 if differ or only else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", nargs="?", help="JSON file to record into")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"),
                    help="list the expressions whose entries differ")
    ap.add_argument("--sf-dir", help="tables for the gate rows")
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    if not args.out:
        ap.error("give an output file or --compare A B")
    return record(args.out, args.sf_dir)


if __name__ == "__main__":
    sys.exit(main())
