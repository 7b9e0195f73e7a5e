"""Benchmark runner (driver contract + BASELINE.md protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], warm (best of 3
runs, shared SparkSession), and prints exactly one JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is measured as full materialization of the query result to
the client (Arrow toPandas), so scan + shuffle + agg + transfer all
count.
"""

from __future__ import annotations

import json
import os
import sys
import time

# AQE off for the local perf harness (overridable): adaptive re-planning
# pays per-stage fixed cost that dominates sub-second plans over ~MB
# local inputs (measured 1.5-2x wall on the cheap headline keys), while
# everything it buys — runtime coalescing, skew splitting — needs real
# data volume to matter. Cluster deployments and all correctness paths
# keep the AQE-on default (jsmr_spark/session.py CONFS).
os.environ.setdefault("SPARK_GRAFT_AQE", "false")

HEADLINE = [
    "q_agg_q1",
    "q_join_multiway",
    "q_agg_grouping_sets",
    "q_win_topk_group",
    "q_stream_session",
    "q_text_wordcount",
    "q_text_tfidf",
    "q_dedup_minhash",
    "q_sim_cosine_topk",
    "q_sim_threshold_pairs",
    "q_json_funcs",
]

# Best-of-3: single-run noise on a shared local[32] box is +-50%
# (stage-scheduling latency + GC dominate these sub-second queries);
# the minimum of three runs is a stable throughput estimate.
RUNS_PER_QUERY = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from jsmr_spark.registry import all_specs
    from jsmr_spark.session import get_spark

    spark = get_spark("jsmr_bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    names = [n for n in HEADLINE if n in specs] or list(specs)[:5]

    # Warm pass (not counted): every headline query once. This is what
    # makes the metric "warm" — the first execution of each query pays
    # one-off costs that say nothing about throughput (Janino codegen
    # compile of its expression tree, parquet footer reads, shuffle-file
    # allocation, JIT of the generated code); on a long-lived cluster
    # those amortize to zero. The counted runs below then measure the
    # steady-state plan.
    for name in names:
        specs[name].fn(spark, sf_dir).toPandas()

    # Headline. Protocol note (ADVICE r3): since round 3 this is
    # best-of-3 after a per-query warm pass; rounds 1-2 were best-of-2
    # with a cold first run, so round-over-round totals compare a
    # slightly more favorable steady state from r3 on (also noted in
    # BENCH.md). Each timed run rebuilds the DataFrame from scratch, so
    # plan construction + Catalyst + codegen are INCLUDED. At bench
    # scale that fixed per-query cost dominates; queries_exec below
    # isolates it.
    timings: dict[str, float] = {}
    exec_timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(RUNS_PER_QUERY):
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).toPandas()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        # Steady-state execution: same DataFrame object re-executed, so
        # the timed quantity is scan+shuffle+agg+Arrow transfer only —
        # the component that actually grows with data size and the one
        # a 100 TB projection should extrapolate from.
        df = specs[name].fn(spark, sf_dir)
        df.toPandas()
        best_exec = float("inf")
        for _ in range(RUNS_PER_QUERY):
            t0 = time.perf_counter()
            df.toPandas()
            best_exec = min(best_exec, time.perf_counter() - t0)
        exec_timings[name] = round(best_exec, 4)
        print(
            f"  {name}: {timings[name]:.3f}s (exec {exec_timings[name]:.3f}s)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 4)
    # Scaling-probe note (VERDICT r12 #2, additions-only): per-query WALL
    # at sf0.1 is dominated by serial driver-side fixed cost (py4j build
    # + Catalyst + codegen, ~0.1-0.5 s/key) and therefore barely moves
    # with the core count; the scaling-sensitive signal is the exec tier
    # (`queries_exec` — steady re-execution of the same plan: scan +
    # shuffle + agg + Arrow transfer). `cpus` records which core count
    # this run actually used (master local[cpus], from $SPARK_GRAFT_CPUS)
    # so cross-core-count runs are attributable.
    from jsmr_spark.session import default_parallelism

    print(
        json.dumps(
            {
                "metric": "headline_total_warm",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_exec": exec_timings,
                "exec_total": round(sum(exec_timings.values()), 4),
                "sf": sf,
                "n_queries": len(timings),
                "cpus": default_parallelism(),
            }
        )
    )


if __name__ == "__main__":
    main()
