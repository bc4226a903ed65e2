"""Central query/oracle registry.

Each operator module exposes ``QUERIES`` (name -> callable(spark, sf_dir) ->
DataFrame) and ``ORACLES`` (name -> DuckDB SQL with identical column
aliases).  Names missing from ORACLES get the driver's weaker rows-only
check (reserved for genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MODULES = (
    "realparse_spark.operators.report",
    "realparse_spark.operators.parse_queries",
    "realparse_spark.operators.log_report",
    "realparse_spark.operators.load_query",
    "realparse_spark.operators.streaming_query",
    "realparse_spark.operators.text",
    "realparse_spark.operators.dedup",
    "realparse_spark.operators.similarity",
    "realparse_spark.operators.multimodal",
    "realparse_spark.operators.pipeline_ops",
    "realparse_spark.operators.advanced",
    "realparse_spark.operators.privacy",
    "realparse_spark.operators.analytics",
    "realparse_spark.operators.inference",
    "realparse_spark.operators.tpch_extra",
    "realparse_spark.operators.tpch_partsupp",
    "realparse_spark.operators.dq",
    "realparse_spark.operators.scale",
    "realparse_spark.operators.compact",
    "realparse_spark.operators.linkage",
    "realparse_spark.operators.graph",
    "realparse_spark.operators.layout",
    "realparse_spark.operators.corpus_quality",
    "realparse_spark.operators.selection",
    "realparse_spark.operators.spans",
    "realparse_spark.sinks.mail",
)

# The driver's CORRECTNESS run caps at the first 50 registered queries, so
# registration order decides which queries earn a hard driver-verified row
# each round.  Names listed here are emitted FIRST (in this order); everything
# else follows in module order.  Rotate per round so every query accumulates
# driver rows.
#
# The round-12 window (EXACTLY 50 names), per the round-11 verdict tasks:
# (a) the 26 round-11 post-window additions with no driver row ever
#     (never-sampled backlog drains to zero again; all oracled except
#     retrieval_eval_ann, which is rows-only by design — the ANN probe in
#     the retrieval seat, metric arithmetic shared with the oracled
#     retrieval_eval).
# (b) the 2 round-12 exact-surrogate companions (verdict task 7),
#     registered INSIDE the window while slots are free: distinct_merge_exact
#     (hash-verified twin of the HLL rollup) and audience_overlap_exact
#     (twin of the theta-sketch set algebra).
# (c) 2 re-verify slots: dedup_prefix_jaccard, whose inline pair verify
#     is unchanged (round 12 measured an Arrow pair-verify kernel slower
#     and reverted it), and sim_ann_lsh_batch (narrow candidate dedup,
#     rewired in round 12) — both earned green rows in r11; a fresh
#     verification row re-confirms each.
# (d) 20 of the 38 r7-stale names (LLM-pipeline + graph families first,
#     including the r11-touched emb_threshold_sweep and pagerank_parts so
#     the norm-hoist / edges_unique changes earn driver rows).  The
#     remaining 18 r7-stale names (zorder_key, funnel_steps, event_cusum,
#     event_attribution, linear_attribution, seasonal_dow, error_budget,
#     corr_matrix, crosstab_chi2, ols_price_model, weighted_median,
#     daily_autocorr, ks_statistic, benford_digits, gini_revenue,
#     poisson_bootstrap_ci, ab_test, table_diff) are the round-13 stale
#     frontier, all oracled or gate-covered, none never-sampled.
# Post-window additions register AFTER these 50 names; never-sampled
# backlog stays <= one round's driver capacity (the rule that took the
# backlog 60 -> 10 -> 7 -> 0 -> 14 -> 0 -> 11 -> 0 -> 26 -> 0).
_PRIORITY = (
    # --- (a) round-11 additions: never-sampled backlog drains to zero ---
    "retrieval_eval_ann",  # rows-only by design (ANN probe contract)
    "dedup_simhash_portable",
    "q18_large_volume",
    "dedup_eval",
    "report_mail",
    "quality_classifier_train",
    "classifier_calibration",
    "hard_negative_mining",
    "text_readability",
    "classifier_pr_curve",
    "nb_langid_confusion",
    "pca_power_iter",
    "bm25_retrieval_eval",
    "ivf_balance",
    "mmr_diversify",
    "stream_topk_e2e",
    "tokenizer_fertility",
    "span_corruption_plan",
    "csv_quarantine",
    "emb_isotropy",
    "lm_holdout_ppl",
    "doremi_lite_weights",
    "event_ewma",
    "t_closeness",
    "emb_dim_variance",
    "forecast_backtest",
    # --- (b) round-12 exact-surrogate companions, in-window ---
    "distinct_merge_exact",
    "audience_overlap_exact",
    # --- (c) round-12 re-verify slots (paths changed this round) ---
    "dedup_prefix_jaccard",
    "sim_ann_lsh_batch",  # rows-only (hyperplane-LCG sketches)
    # --- (d) 20 r7-stale names, LLM-pipeline + graph families first ---
    "emb_threshold_sweep",
    "pagerank_parts",
    "bpe_pair_counts",
    "text_oov_rate",
    "cms_user_counts",
    "l_diversity",
    "dq_profile",
    "graph_triangles",
    "graph_khop",
    "pagerank_weighted",
    "graph_common_neighbors",
    "graph_adamic_adar",
    "fuzzy_match_parts",
    "snm_linkage",
    "linkage_clusters",
    "interval_overlap_join",
    "market_basket",
    "skew_profile",
    "join_size_profile",
    "bloom_prune_join",
)


def _load():
    import importlib

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for modname in _MODULES:
        mod = importlib.import_module(modname)
        for name, fn in getattr(mod, "QUERIES", {}).items():
            assert name not in queries, f"duplicate query name: {name}"
            queries[name] = fn
        for name, sql in getattr(mod, "ORACLES", {}).items():
            assert name not in oracles, f"duplicate oracle name: {name}"
            oracles[name] = sql

    missing = [n for n in _PRIORITY if n not in queries]
    assert not missing, f"_PRIORITY names not registered: {missing}"
    orphans = sorted(set(oracles) - set(queries))
    assert not orphans, f"oracles without a registered query: {orphans}"
    ordered = {n: queries[n] for n in _PRIORITY}
    ordered.update((n, f) for n, f in queries.items() if n not in ordered)
    return ordered, oracles


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _load()[0]


def all_oracles() -> dict[str, str]:
    return _load()[1]
