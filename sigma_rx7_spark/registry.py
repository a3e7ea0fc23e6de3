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
    # Window: 16 changed + 34 carried = 50.
    # Composition: (a) the A/B queries whose arm, outcome, pivot or SRM
    # text now comes from the shared builders in operators/aggregates.py
    # (ab_arm, ab_conversions, ab_responders, ab_moments, ab_pivot,
    # srm_verdict and their DuckDB twins), q_ab_fdr (it splices five of
    # those oracles), the streaming SRM twin and q_pipeline_canonical
    # (cluster sizes through CLUSTER_SIZES_ORACLE / cluster_sizes);
    # (b) carried from the previous window: every other q_stream_*
    # query, the two batch MERGEs, the three dedup oracles and the
    # first five LSH-verify names. They replace the remaining
    # LSH-verify, word-shingle and unit-vector names, proven at sf0.01
    # in earlier windows.
    #
    # Pre-freeze discipline: before committing this list, run
    #   scripts/prefreeze_mirror.sh  (sf0.01 oracle mirror, this list)
    # A/B family through the shared builders
    "q_ab_proportions",
    "q_ab_power",
    "q_ab_bayes",
    "q_ab_welch",
    "q_ab_sequential",
    "q_ab_delta",
    "q_ab_srm",
    "q_stream_srm",
    "q_ab_trend",
    "q_ab_wilson",
    "q_ab_cmh",
    "q_ab_mannwhitney",
    "q_ab_cuped",
    "q_ab_bootstrap",
    "q_ab_fdr",
    # cluster sizes through CLUSTER_SIZES_ORACLE / cluster_sizes
    "q_pipeline_canonical",
    # carried: streams through _drain
    "q_stream_hourly_distinct",
    "q_stream_dedup",
    "q_stream_hourly_counts",
    "q_stream_merge",
    "q_stream_stateful",
    "q_stream_stream_left",
    "q_stream_sessions",
    "q_stream_static_join",
    "q_stream_stream_join",
    "q_stream_sliding_counts",
    "q_stream_cdc_apply",
    "q_stream_ingest_dedup",
    "q_stream_dedup_watermarked",
    "q_stream_mv_refresh",
    "q_stream_topk",
    "q_stream_scd2_enrich",
    "q_stream_psi",
    "q_stream_anomaly",
    "q_stream_ohlc",
    "q_stream_hourly_distinct_approx",
    "q_stream_attribution",
    "q_stream_transitions",
    "q_stream_sequence",
    "q_stream_funnel",
    # carried: batch MERGE through merge_at_cutoff
    "q_merge_upsert",
    "q_merge_cdc_apply",
    # carried: dedup oracles through shingles_oracle /
    # CLUSTER_SIZES_ORACLE
    "q_dedup_prefix",
    "q_dedup_clusters",
    "q_dedup_clusters_lsh",
    # carried: LSH candidates + word-set Jaccard through
    # lsh_verified_oracle
    "q_dedup_lsh_verified",
    "q_dedup_burden_matrix",
    "q_dedup_minhash_error",
    "q_pipeline_near_dedup",
    "q_pipeline_fates",
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
