#!/usr/bin/env python3
"""End-to-end benchmark: expression string in, checked result out.

    python3 perfbench/run.py --workload rel_session --seed 1 --seconds 18 --trace 0

Runs from the root of a source checkout, on ``local[2]`` with one
closed-loop client. Workloads (see perfbench/README.md):

- ``rel_session``: JQL strings through ``JetroTables.query(...).collect()``,
  interleaved with gate operator jobs through the noop sink and
  ``JetroTables.write_parquet`` layout writes;
- ``doc_session``: ``Jetro.collect`` reads and ``patch`` writes over one
  ingested document.

Every result is checked against an independent reference, untimed. The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("rel_session", "doc_session")
# Timed set-ups (session start + table load or document ingest) on the
# running JVM; setup_s is their median.
SETUPS = 3
# Untimed warm-up cycles before the timed window. With the JIT limited to
# its first tier (see _environment), latency levels off within two cycles;
# two cycles also run each of rel_session's gate rows once.
WARMUP_CYCLES = {"rel_session": 2, "doc_session": 2}
# Spark task threads. Two, not one per core: the client, the driver JVM's
# own threads and the Python workers need the other cores.
CORES = 2


def _metric_units() -> tuple[dict, dict]:
    """name -> unit of the end-to-end and per-layer metrics, as declared
    in BENCHMARK.json (the one list the output must match)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def _environment(run_dir: str) -> None:
    """Process environment the program needs, set before the JVM starts.

    Python workers import ``jetro_spark`` (mapInPandas and UDF rows), so
    the checkout root goes on PYTHONPATH; scratch files stay inside the
    checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark")
    os.environ["SPARK_GRAFT_CPUS"] = str(
        min(CORES, len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    # no JVM perf-data files in /tmp, for the launcher JVM or Spark's
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Only the first JIT tier (C1). With the default tiered JIT, request
    # latency still falls ~40% between the 3rd and the 11th cycle, far past
    # what a run can afford to warm up, so each run would measure a point
    # on the JIT's warm-up curve; with C1 it levels off within two cycles.
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 "-XX:TieredStopAtLevel=1")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and, through it, the Python
    workers) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _steal_s() -> float:
    """CPU time the hypervisor has taken from this machine so far, summed
    over its CPUs, in seconds: the steal column of /proc/stat (0 where
    there is none)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _clock() -> float:
    """Seconds of wall time in which this machine was not stolen from.

    On a shared host the hypervisor takes the machine's CPUs away in
    bursts of seconds; a request that runs through one is slower for a
    reason outside the program, by the time it was stolen. Every
    end-to-end time is a difference of this clock. Traced runs use plain
    wall time, the clock their spans are timed with."""
    return time.perf_counter() - _steal_s()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p80(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=5, method="inclusive")[3]  # 80th


def _make_workload(name: str, run_dir: str):
    from perfbench import datagen, workloads

    if name == "rel_session":
        data = datagen.ensure_tables(os.path.join(WORK, "data"),
                                     workloads.RelSession.sf)
        return workloads.RelSession(data, run_dir)
    return workloads.DocSession()


def run(args, run_dir: str) -> dict:
    from jetro_spark import session
    from perfbench import trace

    wl = _make_workload(args.workload, run_dir)
    tracer = None
    if args.trace:
        tracer = trace.Tracer()
        tracer.install(wl)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    clock = _clock if tracer is None else time.perf_counter
    spark = None
    stopped = []  # keep stopped sessions alive: load_tables keys on id()

    def set_up() -> tuple[float, float]:
        """Start a session and load the workload's input: (session start,
        input load) in ms. Spans are recorded under request id 0."""
        nonlocal spark
        if spark is not None:
            spark.stop()
            stopped.append(spark)
        if tracer is not None:
            tracer.rid = 0
        t0 = clock()
        spark = session.get_spark("perfbench", cpus=cpus)
        t1 = clock()
        wl.setup(spark)
        t2 = clock()
        if tracer is not None:
            tracer.rid = None
        return (t1 - t0) * 1000, (t2 - t1) * 1000

    try:
        set_up()  # the first set-up also launches the JVM
        # the timed set-ups follow on the running JVM, so that they do not
        # carry the JVM launch
        t0, s0 = time.perf_counter(), _steal_s()
        setups = [set_up() for _ in range(SETUPS)]
        t1 = time.perf_counter()
        result = _measure(args, wl, spark, tracer)
        print(f"phases: {SETUPS} set-ups {t1 - t0:.1f} s, warm-up and window "
              f"{time.perf_counter() - t1:.1f} s; host steal "
              f"{_steal_s() - s0:.1f} s", file=sys.stderr)
        setup_ms = [a + b for a, b in setups]
        if tracer is not None:
            tracer.write(os.path.join(
                WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
            input_metric = ("localrel.ingest_ms"
                            if args.workload == "doc_session"
                            else "session.load_tables_ms")
            result["metrics"].update({
                "session.get_spark_ms": _median([a for a, _ in setups]),
                "session.load_tables_ms": 0.0,
                "localrel.ingest_ms": 0.0,
            })
            result["metrics"][input_metric] = _median([b for _, b in setups])
        else:
            result["metrics"]["setup_s"] = _median(setup_ms) / 1000
        units = _metric_units()[1 if tracer is not None else 0]
        result["metrics"] = {k: {"value": result["metrics"][k], "unit": u}
                             for k, u in units.items()}
        return result
    finally:
        if tracer is not None:
            tracer.uninstall()
        _stop_spark(spark)


def _measure(args, wl, spark, tracer) -> dict:
    """Warm up, then time a window of whole request cycles. Returns the
    result object with the metrics as plain numbers (set-up metrics are
    added by the caller)."""
    from perfbench import trace

    clock = _clock if tracer is None else time.perf_counter
    stream = iter(wl.stream(args.seed))
    seen: set[str] = set()
    attempted = failed = 0
    first_failure = None

    def timed(req):
        """Run one request: (elapsed seconds, result, exception)."""
        t0 = clock()
        try:
            out, err = wl.run(req), None
        except Exception as exc:  # counted as a failed request
            out, err = None, exc
        return max(clock() - t0, 0.0), out, err

    def checked(req, out, err) -> bool:
        nonlocal first_failure
        problem = None
        if err is not None:
            problem = f"{type(err).__name__}: {err}"
        else:
            try:
                if not wl.check(req, out):
                    problem = "result differs from reference"
            except Exception as exc:
                problem = f"check raised {type(exc).__name__}: {exc}"
        if problem and first_failure is None:
            first_failure = f"{req.template}: {problem}"
        return problem is None

    # warm-up: run, unchecked and untimed
    cycles = 0
    while cycles < WARMUP_CYCLES[args.workload]:
        req = next(stream)
        cycles += req.cycle_end
        seen.add(req.key)
        _, _, err = timed(req)
        if err is not None:
            attempted += 1
            failed += 1
            checked(req, None, err)

    stats = None
    if tracer is not None:
        stats = trace.SparkStats(spark)
        tracer.counts.clear()  # count traced requests only

    lat, first_lat = [], []
    traced_lat, plain_lat = [], []
    layer = Counter()
    traced_rids: set[int] = set()
    busy = 0.0
    # The window is a whole number of cycles: --seconds divided by the
    # workload's nominal cycle time, so every run with the same seed and
    # --seconds times the same requests.
    window = max(1, round(args.seconds / wl.cycle_seconds))
    cycles = 0
    while cycles < window:
        req = next(stream)
        first = req.key not in seen
        seen.add(req.key)
        # traced runs trace every other cycle, so the untraced cycles
        # measure the tracing overhead on the same template mix
        traced = tracer is not None and cycles % 2 == 0
        cycles += req.cycle_end
        if traced:
            stats.begin(req.rid)
            tracer.rid = req.rid
            tracer.action_df = None
        elapsed, out, err = timed(req)
        if traced:
            tracer.rid = None
            layer.update(stats.collect(req.rid, tracer.action_df))
            traced_rids.add(req.rid)
        ok = checked(req, out, err)
        attempted += 1
        busy += elapsed
        if not ok:
            failed += 1
            continue
        (traced_lat if traced else plain_lat).append(elapsed)
        lat.append(elapsed)
        if first:
            first_lat.append(elapsed)

    if first_failure:
        print(f"first failure: {first_failure}", file=sys.stderr)
    if tracer is not None:
        values = _layer_metrics(tracer, layer, traced_rids, traced_lat,
                                plain_lat)
    else:
        ms = [x * 1000 for x in lat]
        values = {
            "latency_p50_ms": _median(ms),
            "latency_p80_ms": _p80(ms),
            "first_seen_latency_p50_ms": _median(
                [x * 1000 for x in first_lat]),
            "throughput_qps": len(lat) / busy if busy else 0.0,
        }
        print(f"timed requests: {len(lat)} ({len(first_lat)} first-seen)",
              file=sys.stderr)
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": values,
    }


def _layer_metrics(tracer, layer: Counter, rids: set[int], traced_lat,
                   plain_lat) -> dict:
    """Per-layer metrics per traced request (set-up metrics are added by
    the caller)."""
    from perfbench import trace

    n = max(len(rids), 1)
    self_ms, covered_ms = tracer.self_times(rids)
    out: dict = {}
    for span, metric in trace.LAYERS.items():
        if not metric.startswith(("session.", "localrel.")):
            out[metric] = out.get(metric, 0.0) + self_ms.get(span, 0.0) / n
    per_request = {
        "parser.ast_nodes": "parser.ast_nodes",
        "engine.py4j_calls": "engine.py4j_calls",
        "engine.fallbacks": "engine.fallbacks",
        "compiler.compiles_per_request": "compiler.compiles",
        "driver.result_rows": "driver.result_rows",
        "py4j.calls": "py4j.calls",
    }
    for metric, key in per_request.items():
        out[metric] = tracer.counts[key] / n
    for metric in trace.SPARK_COUNTERS:
        out[metric] = layer[metric] / n
    out["exec.task_skew"] = (layer["exec.task_skew_sum"]
                             / layer["exec.task_skew_n"]
                             if layer["exec.task_skew_n"] else 0.0)
    total_ms = sum(traced_lat) * 1000
    out["trace.uncovered_ms"] = max(total_ms - covered_ms, 0.0) / n
    out["trace.overhead_ms"] = (_median(traced_lat) - _median(plain_lat)) * 1000
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "jetro_spark")):
        print(f"no jetro_spark package under {ROOT}: run from a source "
              "checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        _environment(run_dir)
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
