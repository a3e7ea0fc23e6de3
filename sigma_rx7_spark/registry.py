"""Query registry: the single source of truth behind ``__spark_entry__``.

Each operator family registers named queries with the DataFrame
implementation and (when SQL-expressible) the DuckDB oracle SQL *side by
side*, so the pair can never drift apart. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over this registry.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules that register queries on import.
_QUERY_MODULES = (
    "sigma_rx7_spark.operators.scans",
    "sigma_rx7_spark.operators.joins",
    "sigma_rx7_spark.operators.interval",
    "sigma_rx7_spark.operators.aggregates",
    "sigma_rx7_spark.operators.windows",
    "sigma_rx7_spark.operators.timeseries",
    "sigma_rx7_spark.operators.incremental",
    "sigma_rx7_spark.operators.sets",
    "sigma_rx7_spark.operators.subqueries",
    "sigma_rx7_spark.operators.graph",
    "sigma_rx7_spark.operators.linkage",
    "sigma_rx7_spark.operators.quality",
    "sigma_rx7_spark.operators.tpch",
    "sigma_rx7_spark.sources.formats",
    "sigma_rx7_spark.sources.layout",
    "sigma_rx7_spark.sources.pydatasource",
    "sigma_rx7_spark.functions.strings",
    "sigma_rx7_spark.functions.dates",
    "sigma_rx7_spark.functions.scoring",
    "sigma_rx7_spark.functions.json_ops",
    "sigma_rx7_spark.functions.text",
    "sigma_rx7_spark.llm.bpe",
    "sigma_rx7_spark.llm.dedup",
    "sigma_rx7_spark.llm.similarity",
    "sigma_rx7_spark.llm.sampling",
    "sigma_rx7_spark.llm.pipeline",
    "sigma_rx7_spark.llm.clustering",
    "sigma_rx7_spark.streaming.jobs",
    "sigma_rx7_spark.streaming.stateful",
    "sigma_rx7_spark.llm.multimodal",
    "sigma_rx7_spark.functions.udfs",
    "sigma_rx7_spark.domain.queries",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    # DuckDB-runnable ANSI SQL, a callable (sf_dir) -> SQL for oracles
    # that read sf-keyed staged artifacts, or None => rows-only check.
    oracle: str | Callable[[str], str] | None
    tags: tuple[str, ...] = field(default_factory=tuple)

    def oracle_for(self, sf_dir: str) -> str | None:
        """The oracle SQL specialized to ``sf_dir``. Static oracles
        return as-is; templated oracles substitute sf-keyed staged
        paths at retrieval time, so two sessions mirroring different
        scale factors never share (or clobber) one staged artifact."""
        if callable(self.oracle):
            return self.oracle(sf_dir)
        return self.oracle

    @property
    def doc(self) -> str:
        return (self.fn.__doc__ or "").strip()


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False

# External correctness harnesses check a fixed-size prefix of the registry
# (the driver verifies the first 50 entries of ``load_all()`` order), so
# ordering is part of the verification contract:
#   1. names in _CHECK_PRIORITY, in list order — queries whose oracle or
#      implementation changed recently, or that have never had an external
#      correctness row, rotate to the front so the next run proves them;
#   2. every other oracle-gated query, in registration (module) order;
#   3. rows-only queries (no oracle) last — an external checker can only
#      ever report "no oracle" for them, so they must not occupy checked
#      slots.
_CHECK_PRIORITY: tuple[str, ...] = (
    # Window: 40 shared-relation + 10 shared-estimator/merge = 50.
    # Composition: (a) the 40 queries whose oracle or Spark text now
    # calls a shared-relation builder instead of pasting its own copy:
    # the 9 LSH-verify oracles (dedup.lsh_verified_oracle; two of them
    # also pipeline.QUALITY_ORACLE, whose Spark twin
    # pipeline.quality_filtered also serves q_pipeline_corpus_curation;
    # q_dedup_clusters_lsh and q_pipeline_canonical also
    # dedup.components_oracle), the 4 other word-shingle or
    # connected-components oracles (dedup.shingles_oracle,
    # dedup.components_oracle),
    # the 11 oracles over unit-normalized embeddings
    # (similarity.UNIT_ORACLE, including the q_dedup_recall_lsh
    # composite), the 5 drug-era oracles (rules.ERA_ORACLE, including
    # the q_domain_alert_inbox composite), the 8 daily-revenue queries
    # (timeseries.daily_revenue / DAILY_REVENUE_ORACLE; q_ts_acf and
    # q_ts_ljung_box also acf_rho / ACF_ORACLE) and the 2 CDC applies
    # (incremental.CDC_ORACLE, CDC_DELETE_MOD); (b) 10 of the previous
    # window's newest names (the fit_logistic queries and both
    # MERGE_ORACLE users). They replace the stream store-count,
    # SQL-binding, no-data-batch and fold_stream names and the
    # rank_select queries, proven at sf0.01 in earlier windows.
    #
    # Pre-freeze discipline: before committing this list, run
    #   scripts/prefreeze_mirror.sh  (sf0.01 oracle mirror, this list)
    # LSH candidates + word-set Jaccard through lsh_verified_oracle
    "q_dedup_lsh_verified",
    "q_dedup_clusters_lsh",
    "q_dedup_burden_matrix",
    "q_dedup_minhash_error",
    "q_pipeline_near_dedup",
    "q_pipeline_canonical",
    "q_pipeline_fates",
    "q_split_leakage",
    "q_corpus_release_gate",
    "q_pipeline_corpus_curation",
    # word shingles through shingles_oracle; components through
    # components_oracle
    "q_text_contamination",
    "q_dedup_containment",
    "q_text_source_overlap",
    "q_dedup_clusters",
    # unit-normalized embeddings through UNIT_ORACLE
    "q_dedup_cosine",
    "q_dedup_cosine_lsh",
    "q_dedup_semantic",
    "q_dedup_recall_lsh",
    "q_sim_topk_ivf",
    "q_sim_topk_ivf_staged",
    "q_sim_index_incremental",
    "q_sim_recall_ivf",
    "q_sim_topk_ivfpq",
    "q_sim_knn_classify",
    "q_sim_recall_rp",
    # drug eras through ERA_ORACLE
    "q_domain_drug_eras",
    "q_domain_therapy_gaps",
    "q_domain_refill_due",
    "q_domain_era_survival",
    "q_domain_alert_inbox",
    # daily purchase revenue through daily_revenue; ACF through acf_rho
    "q_ts_acf",
    "q_ts_ljung_box",
    "q_ts_seasonality",
    "q_ts_theil_sen",
    "q_ts_hurst",
    "q_ts_ewma_chart",
    "q_ts_periodogram",
    "q_ts_cross_corr",
    # CDC apply through CDC_ORACLE
    "q_merge_cdc_apply",
    "q_stream_cdc_apply",
    # batch-GD fit through fit_logistic / gd_oracle
    "q_ml_logreg_train",
    "q_pipeline_quality_model",
    "q_ml_eval",
    "q_ml_lift",
    "q_ml_auc",
    "q_ml_brier",
    "q_ml_logloss",
    "q_ml_operating_point",
    # oracle incremental.MERGE_ORACLE
    "q_merge_upsert",
    "q_stream_merge",
)

# The external checker verifies exactly the first 50 load_all() entries;
# a 51st priority name would silently fall past the window and never get
# a correctness row. Fail loudly instead.
assert len(_CHECK_PRIORITY) <= 50, (
    f"_CHECK_PRIORITY has {len(_CHECK_PRIORITY)} entries; the driver "
    "window holds 50 — rotate out an already-proven query")


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tuple(tags))
        return fn
    return deco


def _order_key(item: tuple[int, tuple[str, QuerySpec]]) -> tuple[int, int]:
    reg_pos, (name, spec) = item
    if name in _CHECK_PRIORITY:
        return (0, _CHECK_PRIORITY.index(name))
    return (1, reg_pos) if spec.oracle else (2, reg_pos)


def load_all() -> dict[str, QuerySpec]:
    global _LOADED
    if not _LOADED:
        for mod in _QUERY_MODULES:
            importlib.import_module(mod)
        _LOADED = True
    ordered = sorted(enumerate(_REGISTRY.items()), key=_order_key)
    return dict(kv for _, kv in ordered)


def get(name: str) -> QuerySpec:
    return load_all()[name]
