"""Engine benchmark: closed-loop workloads over the query registry.

Usage (from the repository root):

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

One client in one process drives ``get_spark()`` at ``local[nproc]``.
An op builds a fresh DataFrame through the registry and materializes it
at the client with ``toPandas()``; a re-collect of the same DataFrame
follows each op. The seed makes the input tables (``datagen.py``) and
the op order of every pass. A run is: set-up, one cold pass (each key's
first op in the session), then whole passes until ``--seconds`` have
been measured. Every op's result is checked against the key's DuckDB
oracle on the same inputs (row count, schema, order-insensitive value
hash) outside the timed window.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics (see layers.py), and
the spans are written to ``perfbench/out/``. A human-readable report
goes to stderr. All scratch (Spark local dirs, temp dirs, stream
checkpoints, sink output, the warehouse) lives under ``perfbench/.run/``
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SF = 0.01

# workload -> (keys, passes the measured window takes at least).
WORKLOADS = {
    # bench.py's headline keys: fixed cost (py4j build, Catalyst, codegen,
    # broadcast, transfer) dominates each op. Three passes, because the
    # first passes after the cold one still run faster as the JVM warms.
    "interactive": ([
        "q_agg_q1", "q_join_multiway", "q_agg_grouping_sets", "q_win_topk_group",
        "q_stream_session", "q_text_wordcount", "q_text_tfidf", "q_dedup_minhash",
        "q_sim_cosine_topk", "q_sim_threshold_pairs", "q_json_funcs",
    ], 3),
    # The JsMr job API (per-record Python map/reduce, an RDD shuffle of
    # pickled pairs) and the write path (file commits, micro-batch WAL and
    # offset commits, state-store commits). Barely touches Catalyst or
    # codegen, and no interactive key reaches these layers.
    "jobs_writes": ([
        "mr_api", "q_mr_inverted_index",
        "sink_parquet", "stream_exactly_once_sink", "stream_dedup_within_wm",
    ], 1),
}

# The JsMr compat-API keys; their MR counters are reported per key.
MR_KEYS = ("mr_api", "q_mr_inverted_index")

# Confs recorded with every run (effective values read back from the session).
RECORDED_CONFS = (
    "spark.master", "spark.driver.memory", "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes", "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.pyspark.enabled", "spark.sql.session.timeZone",
    "spark.sql.codegen.wholeStage",
)

END_TO_END_UNITS = {
    "setup_s": "s", "cold_total_s": "s", "op_p50_s": "s", "ops_per_s": "1/s", "reexec_p50_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Point every scratch location of Spark, Python and the engine at
    ``work`` and size the engine to this machine's cores."""
    tmp, jvm_tmp = work / "tmp", work / "jvm-tmp"
    tmp.mkdir(parents=True)
    jvm_tmp.mkdir()
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_STREAM_TMP"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TZ"] = "UTC"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf spark.ui.showConsoleProgress=false '
        f'--driver-java-options "-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData" pyspark-shell'
    )


def effective_conf(spark, key: str) -> str | None:
    """The session's value for ``key``, its default included."""
    try:
        return spark.conf.get(key)
    except Exception:  # noqa: BLE001 - unset static confs with no default
        return spark.sparkContext.getConf().get(key)


def dir_bytes(path: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Runner:
    def __init__(self, spark, specs, data_dir: str, tracer):
        self.spark = spark
        self.specs = specs
        self.data_dir = data_dir
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.results: dict[str, list] = {}  # key -> fingerprints of its outputs
        self.records: list[dict] = []

    def op(self, key: str, phase: str, recollect: bool = True) -> float | None:
        """One fresh op and, if asked, a re-collect of its DataFrame;
        records both latencies and returns the fresh op's, or None if it
        failed."""
        from check import spark_fingerprint

        tr = self.tracer
        span = tr.span if tr else (lambda name: contextlib.nullcontext())
        for kind in ("fresh", "reexec") if recollect else ("fresh",):
            self.attempted += 1
            rec = tr.start_op(key, kind, phase) if tr else None
            try:
                t0 = time.time()
                if kind == "fresh":
                    with span("queries.build"):
                        df = self.specs[key].fn(self.spark, self.data_dir)
                    py4j_calls = tr.py4j_calls_since_start() if tr else 0
                t1 = time.time() if kind == "fresh" else t0
                with span("transfer.toPandas"):
                    pdf = df.toPandas()
                t2 = time.time()
            except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
                self.failures.append(f"{key} ({kind}): {type(e).__name__}: {str(e)[:300]}")
                log(f"  FAIL {key} ({kind}): {type(e).__name__}: {str(e)[:300]}")
                if tr:
                    tr.abandon_op()
                return None
            if tr:
                tr.finish_op(rec, df, pdf, t0, t1, t2)
                if kind == "fresh":
                    rec.values["queries.py4j_calls"] = py4j_calls
            self.results.setdefault(key, []).append((kind, spark_fingerprint(df, pdf)))
            self.records.append({"key": key, "kind": kind, "phase": phase, "wall_s": t2 - t0})
            if kind == "fresh":
                fresh_s = t2 - t0
        return fresh_s

    def check(self, duck) -> None:
        """Compare every op's output with the key's oracle on the same inputs."""
        from check import oracle_fingerprint

        for key, outs in self.results.items():
            sql = self.specs[key].oracle
            if sql is None:
                continue
            expected = oracle_fingerprint(duck, sql)
            for kind, fp in outs:
                why = fp.mismatch(expected)
                if why:
                    self.failures.append(f"{key} ({kind}): {why}")
                    log(f"  WRONG {key} ({kind}): {why}")

    def hygiene(self, work: Path) -> dict[str, float]:
        """What the run left in the session and on disk, not cleaned first."""
        spark = self.spark
        return {
            "session.views_left": len(spark.catalog.listTables()),
            "session.cached_left": spark.sparkContext._jsc.getPersistentRDDs().size(),
            "session.scratch_bytes_left": dir_bytes(work / "tmp"),
        }


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)


def run(args, work: Path) -> dict:
    import random

    import datagen

    t_process = time.perf_counter()
    prepare_env(work)
    data_dir = str(work / "data")
    datagen.generate(data_dir, args.seed, SF)
    os.chdir(work)  # spark-warehouse and any cwd-relative output land here
    log(f"inputs: seed {args.seed}, sf {SF}, generated in {time.perf_counter() - t_process:.2f}s")

    tracer = None
    if args.trace:
        from layers import Tracer

        tracer = Tracer()
        tracer.instrument_py4j()

    # Set-up: engine import, registry load, session start.
    t_setup = time.perf_counter()
    import jsmr_spark.session as session

    if tracer:
        tracer.instrument_io()
    from jsmr_spark.registry import all_specs

    specs = all_specs()
    t_session = time.perf_counter()
    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t_ready = time.perf_counter()
    setup_s = t_ready - t_setup
    session_start_s = t_ready - t_session
    if tracer:
        tracer.attach(spark)

    confs = {k: effective_conf(spark, k) for k in RECORDED_CONFS}
    log(f"setup {setup_s:.3f}s (session {session_start_s:.3f}s); confs {json.dumps(confs)}")

    keys, min_passes = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    runner = Runner(spark, specs, data_dir, tracer)
    try:
        # Cold pass: each key's first op in this session.
        order = keys[:]
        rng.shuffle(order)
        cold: dict[str, float] = {}
        for key in order:
            wall = runner.op(key, "cold", recollect=False)
            if wall is not None:
                cold[key] = wall
        log(f"cold pass done at {time.perf_counter() - t_process:.1f}s")
        # Measured window: whole passes, at least min_passes of them and
        # at least --seconds of op time.
        passes = 0
        measured = 0.0
        while passes < min_passes or measured < args.seconds:
            order = keys[:]
            rng.shuffle(order)
            n0 = len(runner.records)
            for key in order:
                runner.op(key, "window")
            done = runner.records[n0:]
            measured += sum(r["wall_s"] for r in done)
            passes += 1
            log(f"pass {passes}: fresh {sum(r['wall_s'] for r in done if r['kind'] == 'fresh'):.3f}s, "
                f"re-collect {sum(r['wall_s'] for r in done if r['kind'] == 'reexec'):.3f}s")
            if len(runner.records) == n0:
                break  # every op failed; nothing more to measure
        hygiene = runner.hygiene(work)
        peak_rss_mb = jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        if tracer:
            tracer.detach()
        log(f"window done at {time.perf_counter() - t_process:.1f}s")
    finally:
        stop_session(spark)
    log(f"session stopped at {time.perf_counter() - t_process:.1f}s")

    import duckdb

    duck = duckdb.connect()
    for t in datagen.TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    runner.check(duck)
    duck.close()
    log(f"outputs checked at {time.perf_counter() - t_process:.1f}s")

    window = [r for r in runner.records if r["phase"] == "window"]
    fresh = [r["wall_s"] for r in window if r["kind"] == "fresh"]
    reexec = [r["wall_s"] for r in window if r["kind"] == "reexec"]
    # With every op failed a statistic has no sample; it reads 0 and the
    # result says correct=false.
    e2e = {
        "setup_s": setup_s,
        "cold_total_s": sum(cold.values()),
        "op_p50_s": statistics.median(fresh) if fresh else 0.0,
        "ops_per_s": len(window) / sum(r["wall_s"] for r in window) if window else 0.0,
        "reexec_p50_s": statistics.median(reexec) if reexec else 0.0,
    }
    # Peak RSS varies by a fifth between runs (JVM heap growth), so it is
    # reported as a diagnostic beside the session hygiene counts.
    hygiene["session.peak_rss_mb"] = peak_rss_mb
    error_rate = len(runner.failures) / runner.attempted
    log(f"window: {passes} passes, {len(fresh)} fresh ops, {len(reexec)} re-collects; "
        f"attempted {runner.attempted}, failed {len(runner.failures)}, error_rate {error_rate:.4f}")
    for k, val in e2e.items():
        log(f"  {k:>14} = {val:.4f} {END_TO_END_UNITS[k]}")
    for k, val in hygiene.items():
        log(f"  {k:>26} = {val}")

    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
    }
    if not args.trace:
        result["metrics"] = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    else:
        result["metrics"] = layer_metrics(tracer, e2e, hygiene, session_start_s, passes)
        out = HERE / "out"
        out.mkdir(exist_ok=True)
        path = out / f"{args.workload}-seed{args.seed}-trace.json"
        tracer.dump(str(path), {
            "workload": args.workload, "seed": args.seed, "sf": SF, "nproc": nproc(),
            "loadavg": os.getloadavg(), "confs": confs, "end_to_end": e2e, "hygiene": hygiene,
            "versions": versions(),
        })
        log(f"spans and per-op records: {path.relative_to(ROOT)}")
    return result


def versions() -> dict[str, str]:
    import duckdb
    import pyspark

    return {"spark": pyspark.__version__, "python": platform.python_version(), "duckdb": duckdb.__version__}


# Per-layer metrics summed per op in layers.py, reported per pass of the
# measured window (fresh ops only, so the parts add up to the fresh ops'
# wall time): name -> unit.
PER_PASS = {
    "queries.build_s": "s", "queries.py4j_calls": "count", "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "codegen.compiles": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.input_rows": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.fetch_wait_s": "s", "exec.spill_bytes": "bytes",
    "exec.broadcast_rows": "count", "exec.broadcast_bytes": "bytes", "exec.broadcast_build_ms": "ms",
    "python.rows_sent": "count", "python.bytes_sent": "bytes", "python.rdd_tasks": "count",
    "transfer.s": "s", "transfer.rows": "count", "transfer.bytes": "bytes",
    "streaming.batches": "count", "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.state_commit_ms": "ms",
    "sink.files": "count", "sink.bytes_written": "bytes",
    "unattributed_s": "s",
}
# Ratios of per-pass sums: name -> (numerator, denominator).
RATIOS = {
    "sched.empty_task_ratio": ("sched.empty_tasks", "sched.tasks"),
    "sink.write_amplification": ("sink.bytes_written", "exec.input_bytes"),
    "unattributed_share": ("unattributed_s", "wall_s"),
}


def layer_metrics(tracer, e2e, hygiene, session_start_s, passes) -> dict:
    """Per-layer metrics of a traced run, from the per-op records."""
    cold = [r for r in tracer.ops if r.phase == "cold" and r.values]
    window = [r for r in tracer.ops if r.phase == "window" and r.values]
    fresh = [r for r in window if r.kind == "fresh"]
    summed = set(PER_PASS) | {n for pair in RATIOS.values() for n in pair} - {"wall_s"}
    per_pass = {name: sum(r.values[name] for r in fresh) / passes for name in summed}
    per_pass["wall_s"] = sum(r.wall_s for r in fresh) / passes
    out = {
        "session.start_s": {"value": session_start_s, "unit": "s"},
        **{k: {"value": v, "unit": "bytes" if k.endswith("bytes_left") else "count"}
           for k, v in hygiene.items() if k != "session.peak_rss_mb"},
        "session.peak_rss_mb": {"value": hygiene["session.peak_rss_mb"], "unit": "MB"},
        "io.load_s": {"value": sum(r.values["io.load_s"] for r in cold), "unit": "s"},
        "io.memo_misses": {"value": sum(r.values["io.memo_misses"] for r in cold), "unit": "count"},
        "sched.failed_tasks": {"value": sum(r.values["sched.failed_tasks"] for r in window), "unit": "count"},
        "trace.op_p50_s": {"value": e2e["op_p50_s"], "unit": "s"},
    }
    out.update({name: {"value": per_pass[name], "unit": unit} for name, unit in PER_PASS.items()})
    for name, (num, den) in RATIOS.items():
        out[name] = {"value": per_pass[num] / per_pass[den] if per_pass[den] else 0.0, "unit": "ratio"}
    # First-execution gap: a fresh op's collect minus the re-collect of the same DataFrame.
    gap = sum(a.wall_s - a.values["queries.build_s"] - b.wall_s
              for a, b in zip(window, window[1:])
              if a.kind == "fresh" and b.kind == "reexec" and a.key == b.key)
    out["exec.first_gap_s"] = {"value": gap / passes, "unit": "s"}

    by_key: dict[str, list] = {}
    for r in fresh:
        by_key.setdefault(r.key, []).append(r)
    # JsMr jobs, per key and fresh op: Python-worker record counts, the
    # share of emitted pairs left after the map-side combine, the bytes of
    # pickled pairs shuffled and the tasks run through Python workers.
    for key in MR_KEYS:
        rs = by_key.get(key, [])

        def per_op(name, rs=rs):
            return sum(r.values[name] for r in rs) / len(rs) if rs else 0.0
        pairs = per_op("mr.map_pairs")
        out.update({f"mr.{key}.{name}": {"value": value, "unit": unit} for name, value, unit in (
            ("op_s", sum(r.wall_s for r in rs) / len(rs) if rs else 0.0, "s"),
            ("map_records", per_op("mr.map_records"), "count"),
            ("map_pairs", pairs, "count"),
            ("combine_ratio", (pairs - per_op("mr.map_merges")) / pairs if pairs else 0.0, "ratio"),
            ("reduce_groups", per_op("mr.reduce_groups"), "count"),
            ("shuffle_bytes", per_op("mr.shuffle_bytes"), "bytes"),
            ("python_tasks", per_op("python.rdd_tasks"), "count"),
        )})
    log("layer split per key, seconds per fresh op (mean over the window):")
    log(f"  {'key':>24} {'wall':>7} {'build':>7} {'catal.':>7} {'jobs':>7} {'xfer':>7} {'unattr.':>7}")
    for key, rs in sorted(by_key.items()):
        def mean(f):
            return sum(f(r) for r in rs) / len(rs)
        wall = mean(lambda r: r.wall_s)
        un = mean(lambda r: r.values["unattributed_s"])
        flag = "" if abs(un) <= 0.1 * wall else "  >10% unattributed"
        log(f"  {key:>24} {wall:7.3f} {mean(lambda r: r.values['queries.build_s']):7.3f} "
            f"{mean(lambda r: r.values['catalyst.collect_s']):7.3f} "
            f"{mean(lambda r: r.values['exec.collect_run_s']):7.3f} "
            f"{mean(lambda r: r.values['transfer.s']):7.3f} {un:7.3f}{flag}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "jsmr_spark" / "__init__.py").is_file():
        log(f"error: the engine package jsmr_spark/ is not in {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    work = HERE / ".run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
