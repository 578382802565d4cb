#!/usr/bin/env python3
"""Compare a parent and a change checkout on the benchmark.

Record interleaved pairs (the side that runs first alternates per seed)::

    python3 perfbench/compare.py record --parent ../parent --change . \\
        --workload rel_session --seeds 1-10 --out pairs.jsonl [--trace 1]

Report::

    python3 perfbench/compare.py report pairs.jsonl

For each workload and end-to-end metric the report gives both sides'
median and quartiles, the share of pairs the change wins (ties count for
neither side), and a verdict:

- ``regressed``: the change's median is worse than the parent's by more
  than the metric's bound in BENCHMARK.json;
- ``unresolved``: the parent's own spread (quartile distance over median)
  exceeds the bound, unless every change run beats every parent run;
- ``gain``: the change wins at least 9 of 10 pairs and the medians differ
  by more than the parent's quartile distance;
- ``within bound`` otherwise.

Per-layer counts (units ``count``, ``bytes``) from traced runs are
compared exactly, seed by seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _run(checkout: str, workload: str, seed: int, seconds: int,
         trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} failed "
                           f"({proc.returncode}): {proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def record(args) -> None:
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    with open(args.out, "a") as out:
        for i, seed in enumerate(_seeds(args.seeds)):
            sides = [("parent", args.parent), ("change", args.change)]
            if i % 2:
                sides.reverse()
            for side, checkout in sides:
                res = _run(checkout, args.workload, seed, seconds, args.trace)
                out.write(json.dumps({"side": side, "workload": args.workload,
                                      "seed": seed, "trace": args.trace,
                                      "result": res}) + "\n")
                out.flush()
                print(f"{args.workload} seed {seed} {side}: "
                      f"correct={res['correct']}", file=sys.stderr)


def _quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def _verdict(parent, change, bound, lower_better: bool) -> tuple[str, float]:
    better = (lambda c, p: c < p) if lower_better else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    share = wins / len(parent) if parent else 0.0
    p1, pm, p3 = _quartiles(parent)
    _, cm, _ = _quartiles(change)
    worse_by = ((cm - pm) if lower_better else (pm - cm)) / pm if pm else 0.0
    spread = (p3 - p1) / pm if pm else 0.0
    all_better = parent and change and all(
        better(c, p) for c in change for p in parent)
    if worse_by > bound:
        return "regressed", share
    if spread > bound and not all_better:
        return "unresolved", share
    if share >= 0.9 and abs(cm - pm) > (p3 - p1):
        return "gain", share
    return "within bound", share


def report(args) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    per_layer = {m["name"]: m for m in bench["per_layer"]}
    runs: dict = {}
    with open(args.pairs) as fh:
        for line in fh:
            r = json.loads(line)
            runs.setdefault((r["workload"], r["trace"]), {}) \
                .setdefault(r["seed"], {})[r["side"]] = r["result"]
    bad = 0
    for (workload, trace), by_seed in sorted(runs.items()):
        seeds = sorted(s for s, sides in by_seed.items() if len(sides) == 2)
        incorrect = [s for s in seeds for side in ("parent", "change")
                     if not by_seed[s][side]["correct"]]
        print(f"== {workload} (trace={trace}, {len(seeds)} pairs"
              f"{', incorrect runs at seeds ' + str(incorrect) if incorrect else ''})")
        if trace == 0:
            for name, spec in e2e.items():
                p = [by_seed[s]["parent"]["metrics"][name]["value"] for s in seeds]
                c = [by_seed[s]["change"]["metrics"][name]["value"] for s in seeds]
                verdict, share = _verdict(p, c, spec["bound"],
                                          spec["better"] == "lower")
                bad += verdict == "regressed"
                pq, cq = _quartiles(p), _quartiles(c)
                print(f"  {name:28s} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]"
                      f"  change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]"
                      f"  wins {share:.0%}  bound {spec['bound']:.0%}  {verdict}")
            continue
        moved = 0
        for name, spec in per_layer.items():
            if spec["unit"] not in ("count", "bytes"):
                continue
            for s in seeds:
                p = by_seed[s]["parent"]["metrics"][name]["value"]
                c = by_seed[s]["change"]["metrics"][name]["value"]
                if p != c:
                    moved += 1
                    print(f"  counter {name} seed {s}: {p} -> {c}")
        print(f"  {moved} counter changes")
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    rec = sub.add_parser("record")
    rec.add_argument("--parent", required=True)
    rec.add_argument("--change", required=True)
    rec.add_argument("--workload", required=True)
    rec.add_argument("--seeds", default="1-10")
    rec.add_argument("--trace", type=int, default=0, choices=(0, 1))
    rec.add_argument("--out", required=True)
    rep = sub.add_parser("report")
    rep.add_argument("pairs")
    args = ap.parse_args(argv)
    if args.cmd == "record":
        record(args)
        return 0
    return report(args)


if __name__ == "__main__":
    sys.exit(main())
