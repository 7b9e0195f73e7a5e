"""SparkSession factory and the one table of confs this engine sets.

Every conf the engine sets appears once in ``CONFS``, with one scope:

  * ``static`` — builder only (``get_spark``). Fixed for the session's
    life; a driver-owned session keeps whatever its builder chose.
  * ``runtime`` — applied by ``ensure_engine_confs`` to every session,
    including one the driver owns and passes to ``entry(spark)`` /
    ``queries()[k](spark, sf_dir)``. All are SQLConf entries, hence
    session-settable.
  * ``local`` — as ``runtime``, but only when the master is
    ``local[*]``; real clusters keep their own sizing.

Runtime confs are applied once per session and never by the builder,
so a second ``get_spark()`` cannot re-apply stale values, and a
caller's later override sticks. A runtime conf that does not apply is
reported with a warning naming the key, not swallowed.

Temporary conf changes go through ``scoped_conf``, which puts the
session back exactly as it found it, unset keys included.

Required confs and why (SURVEY.md §7.1):
  * ``spark.sql.legacy.parquet.nanosAsLong=true`` — the ``events``
    fixture carries parquet TIMESTAMP(NANOS), which Spark 4.x rejects
    with PARQUET_TYPE_ILLEGAL otherwise. With the flag, ``ts`` arrives
    as long nanoseconds and io.py normalizes to µs timestamps.
  * ``spark.sql.session.timeZone=UTC`` — deterministic timestamp
    rendering, matching DuckDB's naive-µs reading of the fixtures.
  * AQE on (default in 4.x, set explicitly) — runtime coalescing and
    skew-join handling; this is the 100 TB skew story (SURVEY.md §7.4).
"""

from __future__ import annotations

import contextlib
import os
import warnings
import weakref
from typing import Callable, Iterator, Mapping

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _aqe_default() -> str:
    """AQE default: ON — runtime coalescing + skew-join handling is the
    100 TB story and costs nothing at cluster scale. At LOCAL bench
    scale (sub-second plans over ~MB inputs) AQE's per-stage replanning
    is pure fixed overhead — measured 1.5-2x wall on sub-second keys —
    so the perf harnesses (bench.py, tools/ab_sweep.py) export
    SPARK_GRAFT_AQE=false; correctness paths leave it on."""
    return os.environ.get("SPARK_GRAFT_AQE", "true")


# conf -> (scope, value). A callable value is read when the conf is
# applied, so a harness can flip SPARK_GRAFT_* after import.
CONFS: dict[str, tuple[str, str | Callable[[], str]]] = {
    "spark.master": ("static", lambda: f"local[{default_parallelism()}]"),
    "spark.driver.memory": ("static", lambda: os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")),
    "spark.ui.enabled": ("static", "false"),
    "spark.sql.execution.arrow.pyspark.enabled": ("static", "true"),
    # r12 (guide §4 — the Python boundary): PySpark 4 wraps every
    # DataFrame/Column API call with a call-site capture for error
    # context (a Python stack walk + 2 extra py4j round trips + a
    # conf read PER CALL). Measured on this box: F.col alone drops
    # 7.3 -> 2.2 ms with it off. Pure client-side debug metadata —
    # no effect on plans or results. A STATIC conf: driver-owned
    # sessions get the same effect from the client pin in
    # ensure_engine_confs.
    "spark.python.sql.dataFrameDebugging.enabled": ("static", "false"),
    "spark.sql.legacy.parquet.nanosAsLong": ("runtime", "true"),
    "spark.sql.session.timeZone": ("runtime", "UTC"),
    "spark.sql.adaptive.enabled": ("runtime", _aqe_default),
    "spark.sql.adaptive.coalescePartitions.enabled": ("runtime", _aqe_default),
    "spark.sql.adaptive.skewJoin.enabled": ("runtime", _aqe_default),
    # A vanilla session defaults to 200 shuffle partitions, which at
    # bench scale is pure task-scheduling overhead (on a real cluster
    # this is instead sized to ~2-3x total executor cores). Capped at
    # 16 locally: at fixture sizes the per-task scheduling cost
    # dominates past ~16 tasks per exchange (measured: the 4
    # shuffle-heavy headline keys run 12% faster at 16 than at 32; 8
    # is flat vs 16), while AQE coalescing keeps the reduce side
    # right-sized either way.
    "spark.sql.shuffle.partitions": ("runtime", lambda: str(min(default_parallelism(), 16))),
    # r13 correction: every fixture parquet file is ONE row group
    # (verified with pyarrow), and Spark's parquet reader is row-group
    # granular — a task whose byte range contains the row-group start
    # decodes the whole group, so sub-file splits can never parallelize
    # these scans; the old 8m default only manufactured empty tasks
    # (lineitem sf0.1: 11 tasks, 10 of them no-ops) and their
    # scheduling overhead. 128m (= the engine default) removes them:
    # bench A/B interleaved, exec total 0.98/0.98 -> 0.90/0.87 s.
    "spark.sql.files.maxPartitionBytes": ("local", "128m"),
    "spark.sql.files.openCostInBytes": ("local", "1m"),
}


def _confs(*scopes: str) -> dict[str, str]:
    return {k: v() if callable(v) else v for k, (s, v) in CONFS.items() if s in scopes}


def get_spark(app_name: str = "jsmr_spark") -> SparkSession:
    """Build (or fetch) a local SparkSession sized to this machine."""
    builder = SparkSession.builder.appName(app_name)
    for k, v in _confs("static").items():
        builder = builder.config(k, v)
    return ensure_engine_confs(builder.getOrCreate())


# Sessions ensure_engine_confs has already configured. Memoized so (a)
# the per-query loader path doesn't pay ~10 py4j conf round trips per
# table, and (b) a caller that deliberately overrides a conf AFTER the
# first application (e.g. tests running with AQE off / odd shuffle
# partition counts) isn't silently clobbered by the next load_table.
_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the ``runtime`` (and, on a local master, ``local``) confs.

    Idempotent and applied once per session; later explicit conf
    overrides by the caller stick. Keys that fail to apply (immutable
    in this deployment) are named in one warning; reads must cope
    (io.py checks the session timezone before relying on it)."""
    if spark in _CONFIGURED:
        return spark
    _CONFIGURED.add(spark)
    scopes = ["runtime"]
    if spark.conf.get("spark.master", "").startswith("local"):
        scopes.append("local")
    failed = []
    for k, v in _confs(*scopes).items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001 - reported below
            failed.append(f"{k} ({type(e).__name__})")
    if failed:
        warnings.warn(f"engine confs did not apply: {', '.join(failed)}", RuntimeWarning, stacklevel=2)
    # r13 correction: spark.python.sql.dataFrameDebugging.enabled is a
    # STATIC conf, so on a driver-owned session the builder-time default
    # (true) stands and pyspark's per-call capture stays ON (measured:
    # ~5 ms of Python stack walk + extra py4j round trips per
    # DataFrame/Column call). The flag is client-side-only error-
    # context capture with zero effect on plans or results, so apply
    # the intent at the client: pin pyspark's cached check to the
    # session's effective conf — False unless the caller explicitly
    # built the session with it enabled.
    try:
        import pyspark.errors.utils as _peu

        _peu._enable_debugging_cache = (
            spark.conf.get(
                "spark.python.sql.dataFrameDebugging.enabled", "false"
            ).lower()
            == "true"
        )
    except Exception:
        pass
    return spark


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` for the body, then put back exactly what was there:
    keys that were unset are unset again, the rest get their old value,
    also when the body raises."""
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
