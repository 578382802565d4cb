"""The plan-comparison tool's normalizer (scripts/plan_diff.py): two
plans that differ only in counters compare equal; a real shape change
does not. Spark-free."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _normalize():
    spec = importlib.util.spec_from_file_location(
        "plan_diff", os.path.join(REPO, "scripts", "plan_diff.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize_plan


A = """Project [k#12L, v#13]
+- Filter ((__pfx3#40 > 0) AND (__pfx3#40 <= 2))
   +- Window [row_number() windowspecdefinition(__ord_sc1#39L ASC NULLS FIRST) AS __pfx3#40]
      +- Project [k#12L, v#13, transform(xs#14, lambdafunction((lambda x_17#41 + 1), lambda x_17#41, false)) AS ys#42, monotonically_increasing_id() AS __ord_sc1#39L]
         +- LogicalRDD [k#12L, v#13, xs#14], false"""

B = """Project [k#0L, v#1]
+- Filter ((__pfx7#95 > 0) AND (__pfx7#95 <= 2))
   +- Window [row_number() windowspecdefinition(__ord_sc5#94L ASC NULLS FIRST) AS __pfx7#95]
      +- Project [k#0L, v#1, transform(xs#2, lambdafunction((lambda x_543#96 + 1), lambda x_543#96, false)) AS ys#97, monotonically_increasing_id() AS __ord_sc5#94L]
         +- LogicalRDD [k#0L, v#1, xs#2], false"""


def test_counters_normalize_away():
    norm = _normalize()
    assert A != B
    assert norm(A) == norm(B)


def test_shape_changes_survive_normalization():
    norm = _normalize()
    assert norm(A) != norm(A.replace("<= 2", "<= 3"))
    assert norm(A) != norm(A.replace("__pfx3", "__ord_sc3"))
    # column names that merely end in digits are kept
    assert "l_shipdate2" in norm("Project [l_shipdate2#5]")
