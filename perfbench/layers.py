"""Traced-mode instrumentation, taken from outside the engine package.

Two kinds of record are kept in memory and written out when the run ends:

* spans (name, start, end, parent, op id) around the calls the benchmark
  makes into each layer: ``get_spark``, the registry spec functions,
  ``io.load_table`` and ``DataFrame.toPandas``;
* per-op layer counters read from Spark's own status surfaces once the
  op has finished: the ``QueryExecution.tracker()`` phases, the
  ``CodegenMetrics`` compile counter, the ``AppStatusStore`` job, stage
  and task data of the jobs submitted during the op (one client runs, so
  those are the op's jobs) and each stage's RDD graph, the SQL metrics of
  the op's ``executedPlan``, the SQL status store's write metrics and a
  ``StreamingQueryListener``;
* JsMr job counters: the user functions handed to ``jsmr_spark.mr.job``
  are wrapped so that the Python workers count records into Spark
  accumulators.

All reads of Spark state happen after the op's clock has stopped.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# JsMr job counters, counted in the Python workers.
MR_COUNTERS = ("map_records", "map_pairs", "map_merges", "reduce_groups")

# Progress fields summed per op: metric suffix -> durationMs key.
_STREAM_DURATIONS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "planning_ms": "queryPlanning",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class OpRecord:
    """Layer counters of one op, filled in by :meth:`Tracer.finish_op`."""

    op: int
    key: str
    kind: str  # "fresh" or "reexec"
    phase: str  # "cold" or "window"
    wall_s: float = 0.0
    values: dict[str, float] = field(default_factory=dict)
    stream_progress: list = field(default_factory=list)


class _ProgressListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self._tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self._tracer._on_progress(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _seq(s) -> list:
    """Python list from a Scala Seq proxy."""
    return [s.apply(i) for i in range(s.size())]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._main = threading.get_ident()
        self._py4j_calls = 0
        self._progress_lock = threading.Lock()
        self._progress: list = []
        self._io_misses = 0

    # --- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self._op))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    # --- instrumentation ---------------------------------------------------
    def instrument_py4j(self) -> None:
        """Count py4j commands sent from the client thread."""
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                if threading.get_ident() == self._main:
                    self._py4j_calls += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = send_command

    def instrument_io(self) -> None:
        """Span and miss-count ``io.load_table``. Must run before the
        registry imports the query modules, which bind it by name."""
        from jsmr_spark import io

        orig = io.load_table

        @functools.wraps(orig)
        def load_table(spark, sf_dir, name, fresh=False):
            before = len(io._DF_CACHE.get(spark, {}))
            with self.span("io.load_table"):
                df = orig(spark, sf_dir, name, fresh=fresh)
            if fresh or len(io._DF_CACHE.get(spark, {})) > before:
                self._io_misses += 1
            return df

        io.load_table = load_table

    def instrument_mr(self, spark) -> None:
        """Count the records of every ``jsmr_spark.mr.job`` in its Python
        workers: rows fed to ``map_fn``, pairs it emits, ``combine_fn``
        calls made in the map stage (map-side combines) and groups fed to
        ``reduce_fn``. ``map_fn`` and the map-side combine run in one
        pipelined Python stage, so a combine call counts as map-side when
        ``map_fn`` ran in the same stage."""
        from jsmr_spark import mr

        sc = spark.sparkContext
        acc = {name: sc.accumulator(0) for name in MR_COUNTERS}
        self._mr_acc = acc
        orig = mr.job

        @functools.wraps(orig)
        def job(df, map_fn, reduce_fn=None, combine_fn=None, *args, **kw):
            seen = {}  # stage id of the map stage, per deserialized task

            def stage_id() -> int:
                from pyspark import TaskContext

                return TaskContext.get().stageId()

            def counted_map(row):
                pairs = list(map_fn(row))
                seen["map_stage"] = stage_id()
                acc["map_records"].add(1)
                acc["map_pairs"].add(len(pairs))
                return pairs

            def counted_combine(a, b):
                if seen.get("map_stage") == stage_id():
                    acc["map_merges"].add(1)
                return combine_fn(a, b)

            def counted_reduce(key, values):
                acc["reduce_groups"].add(1)
                return reduce_fn(key, values)

            return orig(df, counted_map, reduce_fn and counted_reduce,
                        combine_fn and counted_combine, *args, **kw)

        mr.job = job

    def _mr_counts(self) -> dict[str, int]:
        return {name: a.value for name, a in self._mr_acc.items()}

    def attach(self, spark) -> None:
        """Bind to a live session: JVM handles, the streaming listener and
        the MR counters."""
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._codegen = getattr(
            self._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"
        ).__getattr__("MODULE$").METRIC_COMPILATION_TIME()
        self._next_job = self._job_count()
        self._next_exec = int(self._sql_store.executionsCount())
        self._listener = _ProgressListener(self)
        spark.streams.addListener(self._listener)
        self.instrument_mr(spark)

    def detach(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def _on_progress(self, progress) -> None:
        with self._progress_lock:
            self._progress.append(progress)

    def _job_count(self) -> int:
        n = 0
        while True:
            try:
                self._store.job(n)
            except Py4JJavaError:
                return n
            n += 1

    # --- per-op bookkeeping ------------------------------------------------
    def start_op(self, key: str, kind: str, phase: str) -> OpRecord:
        rec = OpRecord(op=len(self.ops), key=key, kind=kind, phase=phase)
        self.ops.append(rec)
        self._op = rec.op
        self._py4j_at_start = self._py4j_calls
        self._io_misses_at_start = self._io_misses
        self._codegen_at_start = int(self._codegen.getCount())
        self._mr_at_start = self._mr_counts()
        return rec

    def abandon_op(self) -> None:
        """Close a failed op; its counters stay empty."""
        self._op = None

    def py4j_calls_since_start(self) -> int:
        return self._py4j_calls - self._py4j_at_start

    def finish_op(self, rec: OpRecord, df, pdf, t_start: float, t_build_end: float, t_end: float) -> None:
        """Read every Spark surface for the op that ran in [t_start, t_end].

        ``t_build_end`` splits the op into its build (the spec function)
        and its collect (``toPandas``); for a re-collect it equals
        ``t_start``."""
        self._bus.waitUntilEmpty()
        v = rec.values
        rec.wall_s = t_end - t_start
        v["codegen.compiles"] = int(self._codegen.getCount()) - self._codegen_at_start
        v["io.load_s"] = sum(
            s.end - s.start for s in self.spans if s.op == rec.op and s.name == "io.load_table"
        )
        v["io.memo_misses"] = self._io_misses - self._io_misses_at_start

        jobs = self._new_jobs()
        collect_jobs = [j for j in jobs if j["start"] >= t_build_end]
        v["queries.build_jobs"] = len(jobs) - len(collect_jobs)
        v["sched.jobs"] = len(jobs)
        stages = [st for j in jobs for st in j["stages"]]
        v["sched.stages"] = len(stages)
        for name, agg in (
            ("sched.tasks", "tasks"), ("sched.failed_tasks", "failed"),
            ("exec.cpu_s", "cpu_s"), ("exec.gc_s", "gc_s"),
            ("exec.input_rows", "input_rows"), ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
            ("exec.fetch_wait_s", "fetch_wait_s"), ("exec.spill_bytes", "spill_bytes"),
            ("sink.bytes_written", "output_bytes"),
        ):
            v[name] = sum(st[agg] for st in stages)
        v["sched.empty_tasks"] = sum(st["empty_tasks"] for st in stages)
        v["exec.input_bytes"] = sum(st["input_bytes"] for st in stages)
        v["exec.run_s"] = _union_s([(j["start"], j["end"]) for j in jobs])
        v["sink.files"] = self._new_written_files()
        python_stages = [st for st in stages if "PythonRDD" in st["rdds"]]
        v["python.rdd_tasks"] = sum(st["tasks"] for st in python_stages)
        mr_counts = self._mr_counts()
        for name in MR_COUNTERS:
            v[f"mr.{name}"] = mr_counts[name] - self._mr_at_start[name]
        # The JsMr shuffle: stages that write pickled pairs through a PairwiseRDD.
        v["mr.shuffle_bytes"] = sum(st["shuffle_write_bytes"] for st in stages if "PairwiseRDD" in st["rdds"])

        with self._progress_lock:
            progress, self._progress = self._progress, []
        rec.stream_progress = [p.json for p in progress]
        v["streaming.batches"] = len(progress)
        for suffix, key in _STREAM_DURATIONS.items():
            v[f"streaming.{suffix}"] = sum(p.durationMs.get(key, 0) for p in progress)
        v["streaming.state_commit_ms"] = sum(
            so.commitTimeMs for p in progress for so in p.stateOperators
        )

        # Layer split of the op's wall time.
        collect_run = _union_s([(max(j["start"], t_build_end), j["end"]) for j in collect_jobs])
        last_job_end = max((j["end"] for j in collect_jobs), default=t_build_end)
        v["queries.build_s"] = t_build_end - t_start
        v["transfer.s"] = max(0.0, t_end - max(last_job_end, t_build_end))
        v["transfer.rows"] = len(pdf)
        v["transfer.bytes"] = int(pdf.memory_usage(index=False, deep=True).sum())
        catalyst_in_collect = 0.0
        if rec.kind == "fresh":
            phases = self._phases(df)
            for name in ("analysis", "optimization", "planning"):
                a, b = phases.get(name, (0.0, 0.0))
                v[f"catalyst.{name}_ms"] = (b - a) * 1000.0
                if a >= t_build_end:
                    catalyst_in_collect += b - a
            v.update(self._plan_metrics(df))
        attributed = v["queries.build_s"] + catalyst_in_collect + collect_run + v["transfer.s"]
        v["exec.collect_run_s"] = collect_run
        v["catalyst.collect_s"] = catalyst_in_collect
        v["unattributed_s"] = rec.wall_s - attributed
        self._op = None

    def _phases(self, df) -> dict[str, tuple[float, float]]:
        out = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = (kv._2().startTimeMs() / 1000.0, kv._2().endTimeMs() / 1000.0)
        return out

    def _new_jobs(self) -> list[dict]:
        jobs = []
        while True:
            try:
                j = self._store.job(self._next_job)
            except Py4JJavaError:
                break
            self._next_job += 1
            start = _opt_ms(j.submissionTime()) or time.time()
            end = _opt_ms(j.completionTime()) or time.time()
            jobs.append({
                "id": j.jobId(), "start": start, "end": end,
                "stages": [self._stage(sid) for sid in _seq(j.stageIds())],
            })
        return jobs

    def _stage(self, sid: int) -> dict:
        agg = dict.fromkeys((
            "tasks", "failed", "cpu_s", "gc_s", "input_rows", "input_bytes",
            "output_bytes", "shuffle_write_bytes", "fetch_wait_s", "spill_bytes", "empty_tasks",
        ), 0.0)
        agg["rdds"] = set()
        no_quantiles = self.spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        attempts = _seq(self._store.stageData(
            sid, False, self._jvm.java.util.ArrayList(), False, no_quantiles
        ))
        for sd in attempts:
            if sd.status().toString() == "SKIPPED":
                continue
            agg["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
            agg["failed"] += sd.numFailedTasks()
            agg["cpu_s"] += sd.executorCpuTime() / 1e9
            agg["gc_s"] += sd.jvmGcTime() / 1000.0
            agg["input_rows"] += sd.inputRecords()
            agg["input_bytes"] += sd.inputBytes()
            agg["output_bytes"] += sd.outputBytes()
            agg["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            agg["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1000.0
            agg["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            agg["empty_tasks"] += self._empty_tasks(sid, sd.attemptId(), sd.numTasks())
            agg["rdds"] |= self._rdd_names(sid)
        return agg

    def _rdd_names(self, sid: int) -> set[str]:
        """Class names of the RDDs in a stage, from its operation graph."""
        names = set()
        todo = [self._store.operationGraphForStage(sid).rootCluster()]
        while todo:
            c = todo.pop()
            names.update(n.name() for n in _seq(c.childNodes()))
            todo.extend(_seq(c.childClusters()))
        return names

    def _empty_tasks(self, sid: int, attempt: int, n: int) -> int:
        """Tasks of a stage attempt that read no record, from storage or shuffle."""
        empty = 0
        for t in _seq(self._store.taskList(sid, attempt, max(n, 1))):
            m = t.taskMetrics()
            if not m.isDefined():
                continue
            m = m.get()
            if m.inputMetrics().recordsRead() + m.shuffleReadMetrics().recordsRead() == 0:
                empty += 1
        return empty

    def _new_written_files(self) -> int:
        n = int(self._sql_store.executionsCount())
        files = 0
        if n > self._next_exec:
            for e in _seq(self._sql_store.executionsList(self._next_exec, n - self._next_exec)):
                values = self._sql_store.executionMetrics(e.executionId())
                for m in _seq(e.metrics()):
                    if m.name() == "number of written files":
                        raw = values.get(m.accumulatorId())
                        if raw.isDefined():
                            files += int(str(raw.get()).replace(",", "") or 0)
        self._next_exec = n
        return files

    def _plan_metrics(self, df) -> dict[str, float]:
        """Sum the SQL metrics of the op's executed plan by layer."""
        out = dict.fromkeys((
            "exec.broadcast_rows", "exec.broadcast_bytes", "exec.broadcast_build_ms",
            "python.rows_sent", "python.bytes_sent",
        ), 0.0)
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            p = todo.pop()
            cls = p.getClass().getSimpleName()
            metrics = {}
            it = p.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[kv._1()] = kv._2().value()
            if cls == "BroadcastExchangeExec":
                out["exec.broadcast_rows"] += metrics.get("numOutputRows", 0)
                out["exec.broadcast_bytes"] += metrics.get("dataSize", 0)
                out["exec.broadcast_build_ms"] += metrics.get("buildTime", 0)
            if "pythonDataSent" in metrics:
                out["python.bytes_sent"] += metrics["pythonDataSent"]
                out["python.rows_sent"] += self._input_rows(p)
            if cls == "AdaptiveSparkPlanExec":
                todo.append(p.executedPlan())
            elif cls.endswith("QueryStageExec"):
                todo.append(p.plan())
            else:
                todo.extend(_seq(p.children()))
        return out

    def _input_rows(self, node) -> int:
        """Rows fed to ``node``: numOutputRows of the nearest descendant
        that counts them."""
        todo = _seq(node.children())
        while todo:
            p = todo.pop(0)
            m = p.metrics()
            if m.contains("numOutputRows"):
                return m.apply("numOutputRows").value()
            cls = p.getClass().getSimpleName()
            if cls.endswith("QueryStageExec"):
                todo.append(p.plan())
            else:
                todo.extend(_seq(p.children()))
        return 0

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                **extra,
                "spans": [s.__dict__ for s in self.spans],
                "ops": [{"op": r.op, "key": r.key, "kind": r.kind, "phase": r.phase, "wall_s": r.wall_s,
                         "values": r.values, "stream_progress": r.stream_progress} for r in self.ops],
            }, f, indent=1, default=str)
