"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``etl_jlp_spark``; operators self-register in
``etl_jlp_spark.registry`` at import time.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Importing these modules populates the registry.
from etl_jlp_spark import registry  # noqa: E402
from etl_jlp_spark.ingest import loaders, maintenance  # noqa: E402, F401
from etl_jlp_spark.multimodal import report as media_report  # noqa: E402, F401
from etl_jlp_spark.operators import (  # noqa: E402, F401
    audit,
    cdc,
    chunking,
    components,
    corpus_ml,
    corpus_stats,
    dedup,
    diff,
    embeddings,
    fusion,
    graph,
    ir,
    joins,
    keywords,
    kmv,
    layout,
    linkage,
    profiling,
    quality_rules,
    rollup,
    sampling,
    scd,
    sessionize,
    similarity,
    sketches,
    skew,
    spans,
    textstats,
    timewindow,
)
from etl_jlp_spark.plans import (  # noqa: E402, F401
    analytics,
    attribution,
    calendar,
    curate,
    enrich,
    experiment,
    inference,
    materialized,
    mlprep,
    nonparam,
    ops_metrics,
    pipeline,
    regression,
    timeseries,
    tpch_extra,
)
from etl_jlp_spark.quality import drift, report  # noqa: E402, F401
from etl_jlp_spark.session import ship_package  # noqa: E402

# ---------------------------------------------------------------------------
# Correctness-window rotation (SURVEY.md §8): the driver records only the
# first ~50 queries() entries per round. Everything past the window is
# covered by the committed PARITY_r*.txt sf0.01 sweeps (tools/parity.py,
# the in-repo replica of the driver gate — now with --pandas, the
# driver-materialization replica that reproduced the r09 cliffs red row).
# ---------------------------------------------------------------------------
# The list below leads the window, in order:
# - ten query clusters whose plans were rewritten in round 10 and that no
#   driver window has yet checked against its oracle;
# - the nine queries whose code round 11 rewrote;
# - the four flagships, in the window every time;
# - the first 27 of the queries no correctness window has checked yet, so
#   the list fills the 50-row window exactly.
_ROTATION_PRIORITY = [
    # Round-10 rewrite clusters not yet checked by a driver window.
    "fuzzy_join_editdist",
    "dedup_minhash_lsh",
    "graph_modularity",
    "graph_label_propagation",
    "graph_link_prediction",
    "filter_cascade_report",
    "embedding_pca_power",
    "ann_ivf_topk",
    "ivf_nprobe_sweep",
    "semantic_dedup",
    # Round-11 rewrites.
    "doc_similarity_tfidf_topk",
    "winnowing_fingerprint_stats",
    "contrastive_triplets",
    "knn_loo_accuracy",
    "audio_decode_report",
    "golden_record_merge",
    "minhash_recall_report",
    "hits_authorities",
    "hits_top_hubs",
    # Flagships — in-window every round.
    "preprocess_pipeline",
    "curate_documents",
    "training_data_pipeline",
    "corpus_index_pipeline",
    # Never window-checked (45 as of round 11): the first 27; the rest
    # (bayesian_ab_conversion, periodogram_daily_revenue, then
    # conformal_forecast_interval onward) are next in line.
    "mann_whitney_ab",
    "event_transition_matrix",
    "interarrival_burstiness",
    "rfm_segmentation",
    "assoc_rules_events",
    "benford_digit_report",
    "holt_linear_eval",
    "weekday_seasonality_index",
    "anomaly_mad_daily",
    "window_funnel_steps",
    "stl_decompose_daily",
    "revenue_gini_by_nation",
    "open_orders_timeline",
    "ols_discount_elasticity",
    "did_lift_report",
    "lineitem_corr_matrix",
    "bootstrap_ci_mean",
    "markov_next_event_eval",
    "part_copurchase_lift",
    "revenue_concentration_curve",
    "orders_monthly_yoy",
    "events_dau_wau_mau",
    "order_lines_histogram",
    "topk_movers_wow",
    "new_vs_returning_daily",
    "user_active_streaks",
    "priority_mix_chisq",
]


def _rotated() -> None:
    registry.reorder([n for n in _ROTATION_PRIORITY if n in registry.QUERIES])


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's full preprocessing chain (dedup →
    window-time → sessionize → time-on-page → audit) as one plan.
    First puts the package on the session's Python workers' path
    (``ship_package``), so the queries' Arrow UDFs run from any
    working directory."""
    ship_package(spark)
    return pipeline.preprocess_pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, with the
    round-10 correctness-window rotation applied (see above)."""
    _rotated()
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each oracle-able query."""
    _rotated()
    return dict(registry.ORACLES)
