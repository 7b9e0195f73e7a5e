"""Audit every registered query's physical plan for scale red flags
(the `.explain` discipline from the build mandate) and write PLANS.md.

Checked per query:
  * parquet pushdown: scans with filters must show PushedFilters;
  * row-at-a-time Python UDF (BatchEvalPython) anywhere — only allowed
    in the keys that exist to demonstrate that surface;
  * CartesianProduct / BroadcastNestedLoop on non-tiny inputs — only
    allowed where the operator is genuinely non-equi;
  * engine cache (InMemoryRelation / InMemoryTableScan) — a persisted
    relation outlives its query in the CacheManager, so it is allowed
    only where a measurement shows Spark's exchange reuse cannot do
    the job;
  * exchange count — informational (shuffle budget of the plan).

Exit code is nonzero if an unexpected red flag appears, so this can
gate commits.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# Keys whose purpose is the flagged construct.
ALLOW_PY_UDF = {"q_udf_scalar", "q_pandas_udf", "q_grouped_map", "q_udtf", "mr_api",
                # Arrow-batched numpy partial-Gram accumulation IS the
                # operator (distributed exact-integer covariance):
                "q_embed_pca_power",
                "q_multimodal_decode", "q_multimodal_resize", "q_multimodal_framesample",
                "q_multimodal_silence",
                "q_sim_threshold_pairs", "q_dedup_embedding",
                "stream_watermark_late",
                # polymorphic UDTF: BatchEvalPythonUDTF IS the surface
                # (analyze()-derived schema), same as q_udtf.
                "q_udtf_analyze"}
ALLOW_NESTED_LOOP = {"q_join_cross", "q_join_theta", "q_sim_cosine_topk", "q_knn_label",
                     # rows/groups x 1-row broadcast total aggregate —
                     # the share-of-total denominator shape.
                     "q_graph_degree_dist", "q_quality_benford",
                     "q_ml_lift", "q_ml_mutual_info",
                     # scalar-subquery corpus token total -> 1-row
                     # broadcast denominator (same shape).
                     "q_split_kfold",
                     # docs x broadcast per-class prior/vocab singletons
                     # (model table is classes x vocab, broadcast-sized).
                     "q_ml_naive_bayes",
                     # broadcast query-panel x corpus — q_rank_mrr's
                     # exhaustive-eval baseline shape.
                     "q_ml_ndcg",
                     # vocabulary rollup x 1-row broadcast occurrence
                     # total (coverage denominator).
                     "q_text_vocab_coverage",
                     # rows x broadcast 32-row replicate table — the
                     # documented Poisson-bootstrap fan-out — plus the
                     # B-row control-plane joins.
                     "q_stats_bootstrap",
                     # cent-domain rollup x broadcast 9-row threshold
                     # spine (bounded work, the ROC sweep fan-out).
                     "q_ml_roc_curve",
                     # three 1-row count aggregates crossJoined for the
                     # recall/precision report (and its banding-curve
                     # sibling's config-spine fan-in).
                     "q_dedup_recall_report", "q_dedup_band_tune",
                     # cells/dims x 1-row broadcast total (share-of-total
                     # denominators, as q_graph_degree_dist).
                     "q_ts_heatmap", "q_embed_dim_prune",
                     # rows x 1-row broadcast max (equal-width bin
                     # denominator, q_ml_calibration's shape) and the
                     # bin/level tables x 1-row broadcast totals.
                     "q_ml_psi", "q_ml_brier",
                     # source table x 1-row broadcast budget/cap rows
                     # (waterfill rounds are 1-row aggregates).
                     "q_mix_token_budget",
                     # rows x broadcast 3-row fraction table (the nested
                     # training-subset fan-out).
                     "q_ml_learning_curve",
                     # level rollups x 1-row broadcast chosen-level rule.
                     "q_privacy_generalize",
                     # broadcast query-panel x corpus: the exhaustive eval baseline
                     "q_rank_mrr",
                     "q_sim_ann_lsh", "q_sim_ann_multiprobe", "q_scalar_subq", "q_text_tfidf",
                     # strata x 1-row broadcast weight-total and
                     # shortfall aggregates — alphabet-sized scalar
                     # fan-in for the largest-remainder allocation.
                     "q_sample_neyman",
                     # 256-bucket table x 1-row broadcast corpus totals
                     # (the DSIR smoothing denominators) — 256x1 by
                     # construction.
                     "q_sample_dsir",
                     # sources x 256-bucket spine crossJoin (control
                     # plane: distinct sources x fixed grid) and the
                     # 1-row corpus-total broadcast — both bounded by
                     # construction.
                     "q_mix_kl_divergence",
                     # inherits the grid-blocked radius edge build's
                     # neighbor-cell theta join (the q_geo_gridjoin
                     # shape, never all-pairs).
                     "q_graph_assortativity",
                     # cent-census x 1-row broadcast totals (the
                     # q_ml_lift share-of-total shape).
                     "q_ml_average_precision",
                     # k group-rank rows x 1-row broadcast (N, tie_term)
                     # total — the same share-of-total singleton shape.
                     "q_stats_kruskal",
                     # k group-deviation rows x 1-row broadcast (N, S)
                     # total — same singleton shape (Brown-Forsythe).
                     "q_stats_levene",
                     # crossJoin of two single-row aggregate results
                     # (min/max pass x distinct pass) — 1x1 by construction.
                     "q_profile_columns",
                     # global-exact x merged-sketch 1-row aggregates.
                     "q_sketch_kmv",
                     # seven 1-row count/sketch aggregates crossJoined
                     # for inclusion-exclusion — 1x1 by construction.
                     "q_sketch_kmv_intersect",
                     # top-10 heavy keys x 1-row broadcast global
                     # histogram aggregate — 10x1 by construction.
                     "q_skew_report",
                     # scores x 1-row broadcast max aggregate (the
                     # equal-width bin denominator) — q_quantile_bins'
                     # cutpoint shape.
                     "q_ml_calibration",
                     # lang rollup x 1-row totals, then 1x1 result
                     # crossJoins — all broadcast singletons.
                     "q_profile_drift",
                     # three 1-row bitmap-cardinality aggregates joined
                     # for inclusion-exclusion — 1x1x1 by construction.
                     "q_sketch_bitmap_intersect",
                     # IVF assignment: corpus x K broadcast centroids and
                     # candidates x 1-row broadcast probe — the by-design
                     # IVF shape (tiny broadcast sides, never fact x fact).
                     "q_sim_ann_ivf",
                     # same IVF assignment shape PLUS the exact-baseline
                     # corpus x broadcast eval-set brute force that the
                     # recall metric is defined against (eval sets are
                     # corpus/50 here, a sampled slice at 100 TB).
                     "q_sim_recall_report",
                     # same shape as the recall report: broadcast
                     # query-panel x corpus exact-eval baseline, plus a
                     # 3-row broadcast probe-count fan-out.
                     "q_sim_ann_tune",
                     # rows x 1-row broadcast cutpoint aggregate — the
                     # two-pass equi-depth binning shape.
                     "q_quantile_bins",
                     # recall@10 instrumentation: candidates x 1-row
                     # broadcast hit-count (same shape as the LSH/IVF
                     # siblings above).
                     "q_sim_ann_pq",
                     # r13 (stale-allowlist fix): the r12 §3a probe
                     # redesign attaches the probe as a lazy 1-row
                     # broadcast (pushed vec_id=0 filter) instead of a
                     # build-time .head() collect — corpus x 1-row BNLJ
                     # per truncation dim, the exact LSH/IVF sibling
                     # shape already allowed above; mrl and maxsim were
                     # simply missed when the family converted (maxsim's
                     # probe side is the bounded 4-row token pivot).
                     "q_ann_mrl",
                     "q_sim_maxsim",
                     # customers x 1-row broadcast (sum, count) global
                     # threshold aggregate — the Q22 above-average
                     # filter shape (q_tpch_q15's max-filter variant
                     # collapses to an equi-join and needs no entry).
                     "q_tpch_q22",
                     # per-part values x 1-row broadcast global-total
                     # threshold — Q11's important-stock fraction cut
                     # (same shape as q_tpch_q22's above-average filter).
                     "q_tpch_q11",
                     # event-type list x 1-row broadcast (min, max)
                     # bounds aggregate generating the hourly spine —
                     # the calendar-spine shape (same as q_gap_fill's
                     # broadcast spine, via crossJoin here).
                     "q_ts_interpolate",
                     # distinct (day,user) pairs x broadcast day spine
                     # range band (<=7 days) — rolling COUNT DISTINCT
                     # cannot use window partials; the spine side is
                     # O(days) and broadcasts.
                     "q_win_rolling_distinct",
                     # points x broadcast 9-row neighbor-offset table
                     # (the 3x3 grid fan-out); the candidate join
                     # itself is an equi-join on cell ids.
                     "q_geo_gridjoin",
                     # inherits geo_pairs' 9-row offset fan-out.
                     "q_geo_knn",
                     # inherits geo_pairs' 9-row offset fan-out; the
                     # wedge + closing-edge joins are equi-joins.
                     "q_graph_triangles",
                     # vectors x 1-row broadcast moment-fence aggregate
                     # (the outlier-trim stage) — same shape as
                     # q_quantile_bins' cutpoint crossJoin.
                     "q_pipeline_vectors",
                     # crossJoin of the two single-row per-group moment
                     # aggregates (view x click) — 1x1 by construction,
                     # same shape as q_profile_columns.
                     "q_stats_ttest",
                     # scored pairs x 1-row broadcast n_baskets
                     # aggregate (the lift denominator) — same shape as
                     # q_quantile_bins' cutpoint crossJoin.
                     "q_assoc_rules",
                     # (source x lang) counts x 1-row broadcast corpus
                     # total — 1-row by construction.
                     "q_corpus_divergence",
                     # docs x 1-row broadcast BM25 corpus-stats
                     # aggregate (N, total tokens, per-term df).
                     "q_text_bm25",
                     # cent-domain ECDF/rank tables x 1-row broadcast
                     # totals — 1-row by construction.
                     "q_stats_ks", "q_ml_auc",
                     # QI groups x broadcast topic-domain table (the
                     # dense group-vs-global distribution compare) —
                     # bounded by QI x topic domains, never the corpus.
                     "q_privacy_tclose",
                     # source table x 1-row broadcast max aggregate.
                     "q_mix_epochs",
                     # inherits the BM25 stats crossJoin on its
                     # lexical branch; fusion join is a 50x50 equi-join.
                     "q_rank_fusion"}
# Keys allowed to contain an un-partitioned Window even without a
# TakeOrdered bound upstream — each must have a bounded input by
# construction.
# KS/AUC cumulative ECDF windows: the window input is the per-cent
# aggregate of an exact-2dp metric, bounded by the VALUE DOMAIN
# (<=56k rows however big the corpus), not by corpus size.
ALLOW_GLOBAL_WINDOW: set[str] = {"q_stats_ks", "q_ml_auc",
                                 # cumulative count over the bounded
                                 # cent-domain table (q_ml_auc's shape);
                                 # the corpus never sorts
                                 "q_ml_lift",
                                 # occurrence-rank window over the
                                 # VOCABULARY table, not the corpus —
                                 # control-plane-sized per its docstring
                                 "q_text_vocab_coverage",
                                 # same vocabulary-table rank window (the
                                 # reference-vocab build step)
                                 "q_text_oov",
                                 # corpus-wide quality ranking IS the
                                 # operator (CCNet tertiles); the 100 TB
                                 # path swaps ntile for sampled cutpoints
                                 "q_text_ccnet_bucket",
                                 # user-dimension quintile ranking over the
                                 # per-user rollup; 100 TB path = sampled
                                 # cutpoints (q_quantile_bins shape)
                                 "q_session_rfm",
                                 # prefix sweep over the boundary-instant
                                 # table (two rows per user-day span, a
                                 # rollup — never raw events); 100 TB path
                                 # is the sharded two-pass parallel prefix
                                 "q_ts_concurrency",
                                 # largest-remainder rank over the
                                 # ALLOCATION table (one row per language
                                 # stratum) — alphabet-sized control
                                 # plane, never the corpus
                                 "q_sample_neyman",
                                 # running count over the DISTINCT-cent
                                 # census (bounded domain, q_ml_auc's
                                 # argument) for midrank computation
                                 "q_stats_mannwhitney",
                                 # the same census-sized midrank window,
                                 # k-group form
                                 "q_stats_kruskal",
                                 # same census-sized running sums, score
                                 # order (the AP threshold sweep)
                                 "q_ml_average_precision"}


# Keys allowed to persist a relation, each with the measurement that
# shows exchange reuse does not cover it.
ALLOW_CACHE: set[str] = {
    # db (per-doc bucket counts) feeds the raw distribution, the target
    # distribution and the scoring join; even with full exchange reuse
    # the final aggregate of db runs twice. sf0.1, local[4]: 2.4-3.2 s
    # with the cache, 4.0-6.6 s without.
    "q_sample_dsir",
}


def has_global_window(plan: str) -> bool:
    """True if any windowspecdefinition has NO partition columns (its
    first argument is already a sort order, e.g. `sim#42 DESC NULLS
    LAST, ...` — partitioned specs start with bare column refs). A
    plain `Exchange SinglePartition` test misses this: single-row
    global aggregates legitimately produce one too."""
    for m in re.finditer(r"windowspecdefinition\(", plan):
        rest = plan[m.end(): m.end() + 400]
        depth, first_arg = 0, []
        for ch in rest:
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                break
            first_arg.append(ch)
        arg = "".join(first_arg)
        if " ASC" in arg or " DESC" in arg:
            return True
    return False


def main() -> int:
    from jsmr_spark.registry import canonical_specs
    from jsmr_spark.session import get_spark

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows, bad = [], []
    for name, spec in canonical_specs().items():
        # A relation an earlier key left in the CacheManager would show
        # up in this key's plan; start every key from an empty cache.
        spark.catalog.clearCache()
        try:
            df = spec.fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # sinks etc. that execute eagerly still return a DF
            rows.append((name, "-", "-", "-", f"(no static plan: {type(ex).__name__})"))
            continue
        n_exchange = plan.count("Exchange")
        has_pushdown = "PushedFilters: [" in plan and not re.search(r"PushedFilters: \[\]", plan)
        py_udf = "BatchEvalPython" in plan
        nested = "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
        cached = "InMemoryRelation" in plan or "InMemoryTableScan" in plan
        # Un-partitioned window = single-partition sort of its whole
        # input at scale. Allowed only when the input is already bounded
        # by a TakeOrderedAndProject (the limit-then-rank pattern: the
        # window only ever sees the k survivors) or explicitly listed.
        global_win = has_global_window(plan) and "TakeOrderedAndProject" not in plan
        flags = []
        if py_udf and name not in ALLOW_PY_UDF:
            flags.append("UNEXPECTED row-Python")
        if nested and name not in ALLOW_NESTED_LOOP:
            flags.append("UNEXPECTED nested-loop")
        if global_win and name not in ALLOW_GLOBAL_WINDOW:
            flags.append("UNEXPECTED global-window")
        if cached and name not in ALLOW_CACHE:
            flags.append("UNEXPECTED cache")
        if flags and not spec.eval_tier:
            bad.append((name, flags))
        verdict = "; ".join(flags) if flags else "ok"
        if spec.eval_tier:
            # exact/quadratic baseline by declared design — run on
            # CI-sized samples; the scalable sibling is the primary.
            # Plan flags here are warnings, not failures (ADVICE r8):
            # the quadratic shape is the key's declared purpose.
            verdict += " (eval-tier)"
        rows.append(
            (
                name,
                str(n_exchange),
                "y" if has_pushdown else "-",
                ("py" if py_udf else "") + ("+nl" if nested else "") + ("+mem" if cached else ""),
                verdict,
            )
        )

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("# PLANS — physical-plan audit (tools/plan_audit.py, sf0.001)\n\n")
        f.write("Exchanges = shuffle stages in the plan. pushdown = parquet\n")
        f.write("PushedFilters present. flags: py = Python eval in plan, nl =\n")
        f.write("nested-loop join (allowed only where the operator demands it),\n")
        f.write("mem = persisted relation (allowed only where exchange reuse falls short).\n\n")
        f.write("| key | exchanges | pushdown | flags | verdict |\n|---|---|---|---|---|\n")
        for r in rows:
            f.write("| " + " | ".join(r) + " |\n")
    print(f"{len(rows)} plans audited, {len(bad)} unexpected flags")
    for name, flags in bad:
        print(f"  BAD {name}: {flags}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
