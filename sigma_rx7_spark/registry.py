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
    # Window: 13 SQL-binding + 14 r16-changed + 18 staging-rule
    # + 4 fold_stream + 1 restaged = 50.
    # Composition: (a) the 12 queries whose SQL text now binds its
    # relations as spark.sql DataFrame arguments (io.sql or a named
    # placeholder) instead of session temp views, or whose conf flip
    # became a write option (q_sink_backfill), plus q_tpch_q01 for the
    # TPC-H runner (plans unchanged); (b) queries whose execution path
    # changed since r16 (results bit-identical by construction and
    # local mirrors, but the external checker should re-prove them):
    # the Arrow kernels (now on kernels.py) and their composers, 7 of
    # the streaming queries whose no-data-batch skip now holds its conf
    # only around start(), and the two queries whose persists became
    # materialize.share (PageRank, the quality model); (c) the 18
    # queries whose oracle now reads a path computed by staging.path
    # under a new name (TPC-H partsupp, IVF centroids, schema-merge
    # batches) or whose staged artifact gained an input stamp or a new
    # guard in staging.stage (media files, the Q15 revenue view, DPP
    # fact, z-order and indexed layouts); (d) the 4 queries whose
    # foreachBatch loop became streaming.jobs.fold_stream (no
    # empty-batch skip, typed initial state); (e) 1 older name whose
    # staging moved onto staging.stage. They replace the oldest
    # already-proven names (the quality-audit fold, the six
    # lazy-checkpoint adoptees and six of the no-data-batch streams).
    #
    # Pre-freeze discipline: before committing this list, run
    #   scripts/prefreeze_mirror.sh  (sf0.01 oracle mirror, this list)
    # SQL binding — relations bound as spark.sql DataFrame arguments
    "q_subquery_scalar",
    "q_subquery_exists",
    "q_agg_grouping_sets",
    "q_join_lateral_topk",
    "q_graph_reachability",
    "q_graph_sssp",
    "q_udf_sql",
    "q_rollup_timegrain",
    "q_udtf_sentences",
    "q_sql_scripting",
    "q_domain_hl7_udtf",
    "q_sink_backfill",
    "q_tpch_q01",
    # Arrow kernels — gate and decode in kernels.py; + composers
    "q_dedup_cosine",
    "q_dedup_recall_lsh",
    "q_embed_cov",
    "q_embed_pca_power",
    "q_dedup_clusters",
    # trailing no-data micro-batch skipped; overrides scoped to start()
    "q_stream_dedup_watermarked",
    "q_stream_srm",
    "q_stream_psi",
    "q_stream_anomaly",
    "q_stream_sessions",
    "q_stream_static_join",
    "q_stream_stream_join",
    # materialization changed — persists now go through share()
    "q_graph_pagerank",
    "q_pipeline_quality_model",
    # staging rule — oracle path now from staging.path
    "q_tpch_q02",
    "q_tpch_q09",
    "q_tpch_q11",
    "q_tpch_q16",
    "q_tpch_q20",
    "q_source_schema_merge",
    "q_sim_topk_ivf",
    "q_sim_topk_ivf_staged",
    "q_sim_index_incremental",
    "q_sim_recall_ivf",
    "q_sim_topk_ivfpq",
    "q_multimodal_fingerprint",
    "q_source_binaryfile",
    "q_multimodal_dedup",
    # staging rule — input-stamped or newly guarded artifact
    "q_tpch_q15_materialized",
    "q_join_dpp",
    "q_scan_zorder",
    "q_scan_indexed",
    # foreachBatch loop replaced by fold_stream
    "q_stream_merge",
    "q_stream_cdc_apply",
    "q_stream_ingest_dedup",
    "q_stream_mv_refresh",
    # restaged through staging.stage — kept from the oldest cohorts
    "q_mv_rollup_answer",
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
