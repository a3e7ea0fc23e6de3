"""The benchmark's workloads: which registered queries each one runs.

Each workload loads a different layer of the library; README.md beside
this file gives the reasons and the layer-to-metric map. The lists are
short because every run starts a fresh JVM and builds its staged
artifacts from nothing, and all runs of the benchmark share one time
budget.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Embeddings and documents through the Arrow kernels in llm/ (exact
    # cosine scorer), the staged IVF index, and the quality-model persists
    # that add cache entries on every call; a pandas UDF (functions/udfs)
    # and a scan of the Z-ordered lineitem copy that sources/layout
    # stages. Python workers run on every pass; nothing streams.
    "corpus": (
        "q_dedup_cosine",
        "q_sim_topk_ivf_staged",
        "q_pipeline_quality_model",
        "q_udf_score",
        "q_scan_zorder",
    ),
    # The events table through streaming/: availableNow micro-batches,
    # state-store and WAL writes, a foreachBatch merge; beside them a
    # batch merge and the rolling-DAU window whose distinct user-day
    # relation operators/aggregates persists. No Python worker runs, so
    # this is the bypass workload for kernel work in llm/.
    "events": (
        "q_stream_hourly_distinct",
        "q_stream_merge",
        "q_merge_upsert",
        "q_window_rolling_dau",
    ),
}
