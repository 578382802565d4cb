#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # all checks
    python3 perfbench/selftest.py --no-spark # only the checks without Spark

1. The reference comparison catches a corrupted expected value, for row
   results and for document values.
2. A seed fixes the request stream; another seed gives another stream.
3. Counter determinism: two traced runs with the same seed (and so the
   same requests) report identical per-layer counts (py4j calls, AST
   nodes, jobs, stages, tasks, shuffle bytes, plan-shape counts, ...).

Exits non-zero when any check fails.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

COUNT_UNITS = ("count", "bytes")


def check_corruption() -> list[str]:
    from perfbench import refs

    errors = []
    rows = [(1, "a", 2.5), (2, "b", None)]
    cols = ["k", "s", "v"]
    good = refs.digest(refs.row_keys(rows, cols), ordered=False)
    if refs.digest(refs.row_keys(list(reversed(rows)), cols), False) != good:
        errors.append("row multiset digest depends on row order")
    bad_rows = [(1, "a", 2.5000001), (2, "b", None)]
    if refs.digest(refs.row_keys(bad_rows, cols), False) == good:
        errors.append("a changed value was not caught")
    if refs.digest(refs.row_keys(rows[:1], cols), False) == good:
        errors.append("a missing row was not caught")
    doc = {"orders": [{"id": 1, "total": 5.0, "status": "shipped",
                       "items": [{"sku": "SKU-00001"}]}],
           "meta": {"kind": "k", "version": 1}}
    want = refs.canon(refs.doc_eval("deep_sku", {}, doc))
    if refs.canon(["SKU-00002"]) == want:
        errors.append("a corrupted document value was not caught")
    if refs.canon(["SKU-00001"]) != want:
        errors.append("the document evaluator disagrees on a known value")
    if refs.canon({"a": 1.0, "b": [0.1 + 0.2]}) != refs.canon({"b": [0.3], "a": 1}):
        errors.append("canonical form depends on key order or float noise")
    return errors


def check_streams() -> list[str]:
    from perfbench import workloads

    def keys(stream, n=60):
        return [r.key for r in itertools.islice(iter(stream), n)]

    wl = workloads.RelSession.__new__(workloads.RelSession)
    errors = []
    a = keys(wl.stream(1))
    if a != keys(wl.stream(1)):
        errors.append("same seed gave a different rel_session stream")
    if a == keys(wl.stream(2)):
        errors.append("another seed gave the same rel_session stream")
    if len(set(a)) == len(a):
        errors.append("rel_session stream never repeats a string")
    return errors


def _traced(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_counters(workloads: list[str], seconds: int) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    errors = []
    for w in workloads:
        a = _traced(w, 11, seconds)
        b = _traced(w, 11, seconds)
        for res in (a, b):
            if not res["correct"]:
                errors.append(f"{w}: traced run was not correct")
        diff = {k: (a["metrics"][k]["value"], b["metrics"][k]["value"])
                for k, u in units.items() if u in COUNT_UNITS
                and a["metrics"][k]["value"] != b["metrics"][k]["value"]}
        if diff:
            errors.append(f"{w}: counts differ between same-seed runs: {diff}")
        print(f"{w}: {len([u for u in units.values() if u in COUNT_UNITS])}"
              f" counters compared, {len(diff)} differ", file=sys.stderr)
    return errors


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--no-spark", action="store_true")
    ap.add_argument("--workloads", default="rel_session,doc_session")
    ap.add_argument("--seconds", type=int, default=5)
    args = ap.parse_args(argv)
    errors = check_corruption() + check_streams()
    if not args.no_spark:
        errors += check_counters(args.workloads.split(","), args.seconds)
    for e in errors:
        print(f"FAIL {e}")
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
