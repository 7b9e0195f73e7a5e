"""Job/cluster status surface (SURVEY.md §2.A A9-A10 parity).

JsMr's coordinator exposes an admin endpoint with task progress and
connected-client counts, plus heartbeat-based reassignment. On Spark
those responsibilities belong to the scheduler; this module exposes the
equivalent READ surface so an engine user has the same observability:

  * engine_status()    — cluster/app snapshot (executors, parallelism,
                         active jobs/stages) ~ JsMr admin endpoint;
  * run_with_counter() — observation-instrumented execution ~ JsMr
                         per-job record counters (the MR counter idiom);
  * fault tolerance itself (A9) is Spark's task retry + speculation —
    nothing to reimplement, configured in session.py.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def engine_status(spark: SparkSession) -> dict[str, Any]:
    """Snapshot of the engine — the JsMr admin-endpoint analog."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # executor count via the JVM memory-status map (1 = driver-only/local)
    n_executors = sc._jsc.sc().getExecutorMemoryStatus().size()
    return {
        "app_id": sc.applicationId,
        "master": sc.master,
        "n_executors": n_executors,
        "default_parallelism": sc.defaultParallelism,
        "active_job_ids": list(tracker.getActiveJobsIds()),
        "active_stage_ids": list(tracker.getActiveStageIds()),
    }


def run_with_counter(df: DataFrame, counter_name: str = "records") -> tuple[list, int]:
    """Collect `df` while counting its rows with a named observation —
    the MapReduce 'counter' idiom (A10). The count rides the collect's
    own task metrics (no second pass, no Python worker) and counts
    committed rows only.

    Returns (rows, counted)."""
    obs = Observation(counter_name)
    rows = df.observe(obs, F.count(F.lit(1)).alias(counter_name)).collect()
    return rows, obs.get[counter_name]
