"""Traced runs: spans around the calls into each layer, and per-request
Spark counters read back from Spark's own status stores.

Only the benchmark installs these wrappers; the program is unchanged. A
wrapper replaces a name where its callers look it up (a module attribute,
every module that imported the name, or a class attribute), records a span
while a request is active, and restores the original on ``uninstall``.

Spans are ``(name, start, end, parent, request id)`` tuples kept in memory
and written to a JSON-lines file when the run ends.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time
from collections import Counter

# span name -> layer metric the span's self time feeds
LAYERS = {
    "session.get_spark": "session.get_spark_ms",
    "session.load_tables": "session.load_tables_ms",
    "localrel.ingest": "localrel.ingest_ms",
    "parser.parse": "parser.parse_ms",
    "engine.query": "engine.query_ms",
    "compiler.compile": "compiler.compile_ms",
    "gate.build": "gate.build_ms",
    "driver.action": "driver.action_ms",
    "driver.to_python": "driver.to_python_ms",
    "engine.fallback": "engine.query_ms",
    "py4j": "py4j.ms",
}


def _ast_nodes(node) -> int:
    """Nodes in a parsed JQL tree (dataclass nodes, lists and tuples)."""
    n, stack = 0, [node]
    while stack:
        x = stack.pop()
        if isinstance(x, (list, tuple)):
            stack.extend(x)
        elif hasattr(x, "__dataclass_fields__"):
            n += 1
            stack.extend(getattr(x, f) for f in x.__dataclass_fields__)
    return n


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.stack: list[int] = []
        self.rid: int | None = None
        self.counts: Counter = Counter()
        self.depth: Counter = Counter()  # open spans per name
        self._undo: list[tuple] = []
        self.action_df = None   # DataFrame of the request's outermost action
        self._queries = None
        # Spans are recorded on the thread that runs the requests only.
        # py4j's FinalizerWorker thread sends Java-object releases through
        # the same send_command; recorded, they would interleave with this
        # thread's span stack and give later spans the wrong parent.
        self.thread = threading.get_ident()

    # ------------------------------------------------------------ spans

    def _open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.rid])
        idx = len(self.spans) - 1
        self.stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self.stack.pop()

    def innermost(self, names: tuple) -> str | None:
        """The innermost open span among ``names``."""
        for i in reversed(self.stack):
            if self.spans[i][0] in names:
                return self.spans[i][0]
        return None

    # ---------------------------------------------------------- patching

    def _wrapper(self, orig, name: str, outermost: bool, after=None):
        """``outermost``: calls made inside an open span of the same name
        (recursion, or one action calling another) run unrecorded."""
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer.rid is None or (outermost and tracer.depth[name]) \
                    or threading.get_ident() != tracer.thread:
                return orig(*args, **kwargs)
            tracer.depth[name] += 1
            idx = tracer._open(name)
            try:
                res = orig(*args, **kwargs)
            finally:
                tracer._close(idx)
                tracer.depth[name] -= 1
            if after is not None:
                after(args, res)
            return res
        return wrapper

    def patch_attr(self, owner, attr: str, name: str, outermost=False,
                   after=None) -> None:
        """Wrap a method, classmethod or function attribute of a class."""
        orig = owner.__dict__[attr]
        self._undo.append((owner, attr, orig))
        if isinstance(orig, classmethod):
            wrapped = classmethod(self._wrapper(orig.__func__, name,
                                                outermost, after))
        else:
            wrapped = self._wrapper(orig, name, outermost, after)
        setattr(owner, attr, wrapped)

    def patch_function(self, orig, name: str, outermost=False,
                       after=None) -> None:
        """Replace ``orig`` in every loaded project module that binds it."""
        wrapped = self._wrapper(orig, name, outermost, after)
        for mod in list(sys.modules.values()):
            if not (getattr(mod, "__name__", "") or "").startswith("jetro_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._undo.append((mod, attr, orig))
                    setattr(mod, attr, wrapped)

    def install(self, workload) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.protocol import MEMORY_COMMAND_NAME
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame  # defines collect

        import jetro_spark.jql.engine as engine
        import jetro_spark.jql.parser as parser
        import jetro_spark.session as session
        from jetro_spark.jql.compiler import Compiler

        def count_nodes(args, tree):
            self.counts["parser.ast_nodes"] += _ast_nodes(tree)

        def count_compile(args, res):
            self.counts["compiler.compiles"] += 1

        def count_py4j(args, res):
            # Java-object releases ("m" commands) follow Python's garbage
            # collector, not the request: timed in py4j.ms, not counted
            if args[1].startswith(MEMORY_COMMAND_NAME):
                return
            self.counts["py4j.calls"] += 1
            if self.innermost(("engine.query", "driver.action")) \
                    == "engine.query":
                self.counts["engine.py4j_calls"] += 1

        def keep_df(args, res):
            target = args[0]
            target = getattr(target, "_df", target)  # DataFrameWriter
            if self.action_df is None:
                self.action_df = target

        def count_rows(args, res):
            # rows a collect hands back, or top-level elements of a
            # document-mode value
            n = len(res) if isinstance(res, (list, dict)) else 1
            self.counts["driver.result_rows"] += n

        self.patch_function(parser.parse, "parser.parse", after=count_nodes)
        self.patch_function(engine.to_python, "driver.to_python",
                            outermost=True, after=count_rows)
        self.patch_function(session.load_tables, "session.load_tables")
        self.patch_attr(Compiler, "compile", "compiler.compile",
                        outermost=True, after=count_compile)
        self.patch_attr(engine.JetroTables, "query", "engine.query")
        self.patch_attr(DataFrame, "collect", "driver.action", outermost=True,
                        after=lambda a, r: (keep_df(a, r), count_rows(a, r)))
        self.patch_attr(DataFrame, "first", "driver.action", outermost=True,
                        after=keep_df)
        self.patch_attr(DataFrameWriter, "save", "driver.action",
                        outermost=True, after=keep_df)
        self.patch_attr(ClientServerConnection, "send_command", "py4j",
                        after=count_py4j)
        self.patch_function(session.get_spark, "session.get_spark")
        self.patch_attr(engine.Jetro, "from_value", "localrel.ingest")
        self.patch_attr(engine.JetroTables, "_doc_fallback", "engine.fallback",
                        after=lambda a, r: self.counts.update(
                            ["engine.fallbacks"]))
        # gate functions are looked up in the registry dict the workload
        # holds; wrap the dict's values
        queries = getattr(workload, "queries", None)
        if queries is not None:
            self._queries = (queries, dict(queries))
            for name, fn in list(queries.items()):
                queries[name] = self._wrapper(fn, "gate.build", False)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        if self._queries is not None:
            self._queries[0].update(self._queries[1])
            self._queries = None

    # ----------------------------------------------------------- results

    def self_times(self, rids: set[int]) -> tuple[dict, float]:
        """Per-span-name self time (ms) over requests ``rids``, and the
        total time of top-level spans. py4j spans are transport, not a
        layer: they do not count against their parent's self time."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s[4] in rids and s[3] >= 0 and s[0] != "py4j":
                child_time[s[3]] += s[2] - s[1]
        out: Counter = Counter()
        top = 0.0
        for i, s in enumerate(self.spans):
            if s[4] not in rids:
                continue
            dur = s[2] - s[1]
            out[s[0]] += (dur - child_time[i]) * 1000.0
            if s[3] < 0:
                top += dur
        return dict(out), top * 1000.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, start, end, parent, rid in self.spans:
                fh.write(json.dumps([name, start, end, parent, rid]) + "\n")


# ------------------------------------------------------- Spark counters

# per-request sums SparkStats.collect reports (besides the skew pair)
SPARK_COUNTERS = (
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.scans", "catalyst.exchanges", "catalyst.reused_exchanges",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms",
    "exec.sched_delay_ms", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.input_records",
    "arrow.python_ms", "arrow.bytes_sent", "arrow.rows_received",
)

_STAGE_FIELDS = {
    "exec.run_ms": lambda s: s.executorRunTime(),
    "exec.cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "exec.input_records": lambda s: s.inputRecords(),
    "exec.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "exec.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "exec.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}

# Python-boundary SQL metrics (PythonSQLMetrics: MapInPandas,
# ArrowEvalPython, ... nodes) -> layer metric
_ARROW_METRICS = {
    "time to run Python workers": "arrow.python_ms",
    "data sent to Python workers": "arrow.bytes_sent",
    "number of output rows": "arrow.rows_received",
}


def _metric_number(text: str) -> float:
    """First number of a formatted SQL metric ("1.2 KiB", "35 ms",
    "total (min, med, max ...)\\n12.0 ms (...)") in base units."""
    body = text.split("\n", 1)[-1]
    m = re.search(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", body)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    scale = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
             "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}.get(unit, 1)
    return v * scale


def _scala_iter(coll):
    """Python iterator over a Scala collection seen through py4j."""
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


class SparkStats:
    """Per-request counters from the job and SQL status stores. Works
    with the UI disabled: both stores are fed by listeners regardless.

    A request's counters cover only its own work: jobs of its job group,
    and SQL executions that started after ``begin`` and ran none but the
    request's jobs (work the benchmark does between requests, such as
    collecting a reference result, falls outside both)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.seen_exec = 0

    def _settle(self) -> None:
        """Wait until the listeners have seen every event posted so far."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def begin(self, rid: int) -> None:
        self._settle()
        self.seen_exec = int(self.sql_store.executionsCount())
        self.sc.setJobGroup(f"perfbench-{rid}", "perfbench request", False)

    def collect(self, rid: int, action_df) -> Counter:
        self._settle()
        out: Counter = Counter()
        tracker = self.sc.statusTracker()
        skews = []
        jobs = list(tracker.getJobIdsForGroup(f"perfbench-{rid}"))
        for jid in jobs:
            out["exec.jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never ran
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numTasks()
                for key, get in _STAGE_FIELDS.items():
                    out[key] += get(st)
                run_ms, delay = self._task_times(sid, st.attemptId())
                out["exec.sched_delay_ms"] += sum(delay)
                if len(run_ms) >= 2:
                    run_ms.sort()
                    med = run_ms[len(run_ms) // 2]
                    skews.append(run_ms[-1] / med if med > 0 else 1.0)
        if skews:
            out["exec.task_skew_sum"] += max(skews)
            out["exec.task_skew_n"] += 1
        self._sql(out, set(jobs))
        if action_df is not None:
            self._catalyst(action_df, out)
        self.sc._jsc.clearJobGroup()
        return out

    def _task_times(self, sid: int, attempt: int):
        tasks = self.store.taskList(sid, attempt, 100_000)
        run_ms, delay = [], []
        for i in range(tasks.size()):
            t = tasks.apply(i)
            delay.append(t.schedulerDelay())
            m = t.taskMetrics()
            if m.isDefined():
                run_ms.append(m.get().executorRunTime())
        return run_ms, delay

    def _sql(self, out: Counter, jobs: set[int]) -> None:
        new = int(self.sql_store.executionsCount()) - self.seen_exec
        if new <= 0:
            return
        execs = self.sql_store.executionsList(self.seen_exec, new)
        for i in range(execs.size()):
            ex = execs.apply(i)
            ex_jobs = ex.jobs().keySet()
            if any(int(j) not in jobs for j in _scala_iter(ex_jobs)):
                continue
            eid = ex.executionId()
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                if name.startswith("Scan "):
                    out["catalyst.scans"] += 1
                elif name.startswith("ReusedExchange"):
                    out["catalyst.reused_exchanges"] += 1
                elif name.endswith("Exchange"):  # shuffle or broadcast
                    out["catalyst.exchanges"] += 1
                metrics = node.metrics()
                accs = {}
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() in _ARROW_METRICS:
                        accs[m.name()] = m.accumulatorId()
                if "data sent to Python workers" not in accs:
                    continue
                for mname, acc in accs.items():
                    raw = values.get(acc)
                    if raw.isDefined():
                        out[_ARROW_METRICS[mname]] += _metric_number(raw.get())

    def _catalyst(self, df, out: Counter) -> None:
        qe = df._jdf.queryExecution()
        qe.executedPlan()  # plans the query if the action did not
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                out[f"catalyst.{phase}_ms"] += opt.get().durationMs()
