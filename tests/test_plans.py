"""Physical-plan shape assertions (SCALE.md: the plans we claim are the
plans we ship).

Each test renders ``.explain("formatted")`` output and asserts the
scale-critical property: filters reach the parquet scan, projections prune
the read schema, small dims broadcast, top-k never global-sorts, correlated
subqueries decorrelate, and hot paths stay inside whole-stage codegen.
These are the properties that decide whether a query survives a 100 TB
input, independent of what timings the local box happens to produce.
"""

from __future__ import annotations

import pytest

from sigma_rx7_spark import registry
from sigma_rx7_spark.plans.inspect import formatted_plan

ALL = registry.load_all()


def plan(spark, sf_dir, name: str) -> str:
    return formatted_plan(ALL[name].fn(spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    p = plan(spark, sf_dir, "q_filter_pred")
    assert "PushedFilters: [" in p
    # the predicate must actually appear pushed, not just the empty list
    assert "PushedFilters: []" not in p.split("ReadSchema")[0]


def test_projection_prunes_read_schema(spark, sf_dir):
    p = plan(spark, sf_dir, "q_scan_project")
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema, p
    # q_scan_project touches a narrow column set; the scan must not read
    # the full lineitem width (11 columns).
    assert sum(ln.count(":") for ln in read_schema) <= 6, read_schema


def test_small_dims_broadcast(spark, sf_dir):
    p = plan(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in p
    p = plan(spark, sf_dir, "q_join_multiway")
    assert "BroadcastHashJoin" in p


def test_semi_and_anti_never_materialize_payload(spark, sf_dir):
    assert "LeftSemi" in plan(spark, sf_dir, "q_join_semi")
    assert "LeftAnti" in plan(spark, sf_dir, "q_join_anti")


def test_topk_avoids_global_sort(spark, sf_dir):
    p = plan(spark, sf_dir, "q_sort_topk")
    assert "TakeOrderedAndProject" in p


def test_aggregate_is_partial_final(spark, sf_dir):
    # partial (map-side) + final HashAggregate pair: the shuffle carries
    # one row per (partition x group), not per input row.
    # (WholeStageCodegen spans only materialize in the AQE final plan
    # post-execution, so assert the aggregate pair, which is decided
    # statically.)
    p = plan(spark, sf_dir, "q_agg_pricing_summary")
    assert p.count("HashAggregate") >= 2


def test_scalar_subquery_decorrelates(spark, sf_dir):
    # No per-row subquery node: Catalyst rewrites to aggregate + join.
    p = plan(spark, sf_dir, "q_subquery_scalar")
    assert "Join" in p
    assert "HashAggregate" in p


def test_exists_plans_as_semi_join(spark, sf_dir):
    assert "LeftSemi" in plan(spark, sf_dir, "q_subquery_exists")


def test_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    # The bucketed rewrite must plan as an equi join (hash/merge), never
    # BroadcastNestedLoopJoin / CartesianProduct over the big sides.
    p = plan(spark, sf_dir, "q_join_self_interval")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_exact_dedup_shuffles_digest_not_text(spark, sf_dir):
    p = plan(spark, sf_dir, "q_dedup_exact")
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert exchanges, p
    assert all("text" not in ln for ln in exchanges), exchanges


@pytest.mark.parametrize("name", ["q_agg_having", "q_window_rank"])
def test_no_python_eval_in_relational_paths(spark, sf_dir, name):
    # Hot relational paths must stay JVM-side: no BatchEvalPython /
    # ArrowEvalPython stages (Python appears only in the explicitly
    # slow-path udf/multimodal modules).
    p = plan(spark, sf_dir, name)
    assert "EvalPython" not in p


def test_partitioned_sink_read_prunes_partitions(spark, sf_dir):
    # The staged re-read must select one event_type directory, not all:
    # PartitionFilters carries the predicate, and it leaves the data
    # filter list (the column exists only in directory names).
    from sigma_rx7_spark.plans.inspect import partition_filters

    df = ALL["q_sink_partitioned"].fn(spark, sf_dir)
    pf = partition_filters(df)
    assert pf, "no PartitionFilters in plan"
    assert any("event_type" in seg for seg in pf), pf


def test_bucketed_join_eliminates_shuffle(spark, sf_dir):
    # Co-located bucketed layout => join plans with no shuffle exchange
    # on either side (SCALE.md: the one-time-layout-vs-recurring-shuffle
    # trade). Sorted buckets also kill the per-task sort for SMJ.
    from sigma_rx7_spark.io import load, write_bucketed

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    write_bucketed(li, "b_lineitem", "l_orderkey", 8)
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "b_orders", "l_orderkey", 8)
    joined = spark.table("b_lineitem").join(
        spark.table("b_orders").hint("merge"), "l_orderkey")
    p = formatted_plan(joined)
    assert "Exchange" not in p, p
    # same join without the bucketed layout DOES shuffle both sides
    p_plain = formatted_plan(
        li.join(orders.withColumnRenamed("o_orderkey", "l_orderkey")
                .hint("merge"), "l_orderkey"))
    assert "Exchange" in p_plain


def test_staged_ivf_probe_prunes_cells(spark, sf_dir):
    # The probe must read only its nprobe cells' directories: the scan
    # carries cell_id in PartitionFilters, and the result set is
    # identical to the inline (non-staged) IVF query.
    from sigma_rx7_spark.plans.inspect import formatted_plan as fp

    staged = ALL["q_sim_topk_ivf_staged"].fn(spark, sf_dir)
    p = fp(staged)
    assert "PartitionFilters" in p
    seg = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert any("cell_id" in ln for ln in seg), seg
    inline = ALL["q_sim_topk_ivf"].fn(spark, sf_dir)
    assert (sorted(map(tuple, staged.collect()))
            == sorted(map(tuple, inline.collect())))


def test_sessionize_single_shuffle_single_sort(spark, sf_dir):
    # lag, running sum, and the final aggregate all share one (user_id)
    # hash partitioning and one (user_id, ts, id) sort — no session state
    # materialization, no extra exchange.
    import re

    p = plan(spark, sf_dir, "q_sessionize_batch")
    # "(N) Exchange" / "(N) Sort" detail headers = one per physical node
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Sort", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Window", p)) == 2, p


def test_argmax_is_single_aggregation_no_sort(spark, sf_dir):
    # max_by keeps per-group winners inside partial/final aggregation —
    # no Window, no Sort anywhere in the plan.
    p = plan(spark, sf_dir, "q_agg_argmax")
    assert "Window" not in p
    assert "Sort [" not in p
    assert "partial_max_by" in p or "partial_max" in p, p


@pytest.mark.parametrize("name", ["q_merge_upsert", "q_merge_cdc_apply"])
def test_merge_is_one_keyed_aggregate(spark, sf_dir, name):
    # Both sides' latest row per key come out of one partial/final
    # aggregate: one shuffle, no latest-per-key window, no full-outer
    # join of the two sides.
    import re

    p = plan(spark, sf_dir, name)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert "SortMergeJoin" not in p, p
    assert "Window" not in p, p


def test_cluster_assign_broadcasts_centroids(spark, sf_dir):
    # The k×dim centroid relation broadcasts; the exploded vector side
    # shuffles only for its own aggregations, never for the join.
    p = plan(spark, sf_dir, "q_cluster_assign")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_repetition_and_pii_have_no_shuffle(spark, sf_dir):
    # Both are per-row column pipelines — any Exchange means a regression.
    for name in ("q_text_repetition", "q_text_pii_scrub"):
        p = plan(spark, sf_dir, name)
        assert "Exchange" not in p, (name, p)


def test_rollup_timegrain_single_scan_one_expand(spark, sf_dir):
    # Three time grains from ONE scan via GROUPING SETS: exactly one
    # parquet location, one Expand, one Exchange (partial/final agg).
    import re

    p = plan(spark, sf_dir, "q_rollup_timegrain")
    assert len(re.findall(r"Location: InMemoryFileIndex", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Expand", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_contamination_broadcasts_benchmark_shingles(spark, sf_dir):
    # The benchmark shingle set is bounded by benchmark size => must
    # arrive as a broadcast hash join, never a shuffle of the corpus
    # explode (and certainly never a cartesian pair space).
    p = plan(spark, sf_dir, "q_text_contamination")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ivf_assign_is_sortless_windowless_aggregation(spark, sf_dir):
    # Cell assignment must collapse the C-way score expansion in the
    # aggregation (max_by partial agg: shuffle carries one row/vector),
    # not rank it with a row_number window (shuffle carries C rows/vector).
    import re

    from pyspark.sql import functions as F

    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.llm.similarity import ivf_assign, normalized

    e = load(spark, sf_dir, "embeddings")
    corpus = e.select(F.col("vec_id").alias("c_id"),
                      normalized("embedding").alias("c_vec"))
    cent = corpus.where(F.col("c_id") < 16).select(
        F.col("c_id").alias("cell_id"), F.col("c_vec").alias("cent_vec"))
    p = formatted_plan(ivf_assign(corpus, cent))
    assert len(re.findall(r"\(\d+\) Window", p)) == 0, p
    # one Exchange for the per-vector aggregation, nothing else
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_near_dedup_pipeline_has_no_pair_explosion(spark, sf_dir):
    # The entire point of LSH: near-dedup with NO cartesian/nested-loop
    # pair space anywhere in the plan — candidates arrive via equi-joins
    # on band buckets only.
    p = plan(spark, sf_dir, "q_pipeline_near_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_range_frame_is_single_pass(spark, sf_dir):
    # The 1-hour RANGE frame must plan exactly one shuffle + one sort +
    # one window — same class as the row-frame family.
    import re

    p = plan(spark, sf_dir, "q_window_range_frame")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Sort", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p


def test_reservoir_sample_reuses_window_partitioning(spark, sf_dir):
    # The per-stratum top-K window hash-partitions by lang; the summary
    # groupBy must reuse that partitioning instead of re-shuffling —
    # one Exchange in the whole plan.
    import re

    p = plan(spark, sf_dir, "q_sample_reservoir")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_srp_lsh_dedup_has_no_pair_explosion(spark, sf_dir):
    # The embedding near-dup scale path: candidate pairs arrive via an
    # equi-join on (band_idx, band_key) sign-bit buckets — no cartesian /
    # nested-loop pair space anywhere (that is exactly what it replaces
    # in q_dedup_cosine), and no Python in the plan (signatures are JVM
    # fold dots against literal hyperplanes).
    p = plan(spark, sf_dir, "q_dedup_cosine_lsh")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_srp_embedding_dim_matches_fixture(spark, sf_dir):
    # The literal hyperplane arrays are EMB_DIM wide; a fixture dim drift
    # would silently zip_with-truncate the dot products.
    from sigma_rx7_spark.io import load as load_table
    from sigma_rx7_spark.llm.dedup import EMB_DIM

    d = (load_table(spark, sf_dir, "embeddings")
         .selectExpr("size(embedding) AS d").distinct().collect())
    assert [r["d"] for r in d] == [EMB_DIM]


def test_pack_is_shard_parallel_single_window(spark, sf_dir):
    # Context packing must NOT be a global sort: one Exchange
    # (hash-partition by shard), one Sort, one Window — the shard-
    # parallel shape that survives 100 TB.
    import re

    p = plan(spark, sf_dir, "q_pipeline_pack")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert "rangepartitioning" not in p.lower(), p
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p


def test_registered_bucketed_join_has_no_exchange_on_inputs(spark, sf_dir):
    # q_join_bucketed: the staged bucket layout must eliminate BOTH join-
    # input exchanges; the only Exchange allowed is the final tiny
    # aggregation shuffle (5 priority groups). Split the plan at the join
    # node and assert nothing below it shuffles.
    p = plan(spark, sf_dir, "q_join_bucketed")
    assert "SortMergeJoin" in p, p
    join_idx = p.index("SortMergeJoin")
    below = p[join_idx:]
    # formatted_plan prints operators top-down per subtree; scan-side
    # operators (the join's children) appear after the join header.
    scan_section = below.split("HashAggregate")[0]
    assert "Exchange" not in scan_section, scan_section


def test_dpp_prunes_fact_partitions_at_runtime(spark, sf_dir):
    # The scan's PartitionFilters must carry a dynamicpruning subquery:
    # the only filter is on the joined dim, so any pruning visible at the
    # fact scan was injected by DPP.
    p = plan(spark, sf_dir, "q_join_dpp")
    assert "dynamicpruning" in p, p
    seg = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert any("l_returnflag" in ln for ln in seg), seg


def test_cube_is_single_scan_expand(spark, sf_dir):
    # CUBE must plan as one scan + Expand (2^k grouping sets in one
    # pass), not k separate aggregate jobs unioned together.
    p = plan(spark, sf_dir, "q_agg_cube")
    assert "Expand" in p, p
    # formatted output lists each scan once in the detail section as
    # "(N) Scan parquet"; exactly one distinct scan node means one pass.
    assert p.count(") Scan parquet") == 1, p


def test_langid_profile_broadcasts(spark, sf_dir):
    # The learned trigram profile is |langs| x 50 rows — it must reach
    # the scoring join as a broadcast, never shuffle the corpus side by
    # profile key.
    p = plan(spark, sf_dir, "q_text_langid_trigram")
    assert "BroadcastHashJoin" in p, p


def test_scd2_windows_share_one_exchange(spark, sf_dir):
    # Change detection and versioning both partition by user_id: ONE
    # hashpartitioning exchange on user_id must serve both Window execs
    # (Catalyst drops the second as already-satisfied distribution).
    import re

    p = plan(spark, sf_dir, "q_merge_scd2")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Window", p)) == 2, p


def test_quality_audit_profiles_are_conditional_aggregates(spark, sf_dir):
    # r16 (VERDICT r15 item 2): the audit's two fact passes run while
    # the DataFrame is built, in the shuffle stages of its shared
    # relations — ONE orders pass (per-key profile + pk-dup + RI dim
    # build) and ONE lineitem pass (domain profile riding the orphan
    # join). The returned plan therefore
    # consumes only the two materialized 1-row artifacts: ZERO parquet
    # scans may remain (previously: 3 orders + 2 lineitem scans with no
    # exchange reuse — the table audited 5x per run at fact scale).
    import re

    p = plan(spark, sf_dir, "q_quality_audit")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 0, p
    # the 8 check rows must still be produced from the artifacts by
    # generators inside one plan (no re-planned union subtrees)
    assert "Generate" in p, p


def test_cooccurrence_dedups_before_pair_join(spark, sf_dir):
    # The (user, type) relation must be distinct-aggregated BEFORE the
    # self-join (pair volume bounded by itemset², not event volume), and
    # the per-type totals join back as broadcasts.
    p = plan(spark, sf_dir, "q_agg_cooccurrence")
    first_join = p.find("SortMergeJoin")
    if first_join == -1:
        first_join = p.find("ShuffledHashJoin")
    # a HashAggregate (the distinct) must appear before the pair join in
    # the formatted plan's operator listing
    assert first_join == -1 or "HashAggregate" in p[:first_join], p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_rolling_median_single_window_exec(spark, sf_dir):
    # Both the collect_list frame and the middle-pick projection ride ONE
    # Window exec over one (user_id) sort — no second shuffle/sort.
    import re

    p = plan(spark, sf_dir, "q_window_rolling_median")
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_semantic_dedup_broadcasts_centroids_and_blocks_by_cell(
        spark, sf_dir, monkeypatch):
    # Centroids (k x dim) broadcast into the assignment join; the pair
    # join is keyed on the cell id (blocked), never a cross join of the
    # corpus against itself. The assignment join runs inside the shared
    # relation, so it is planned again with share() as the identity.
    from sigma_rx7_spark.llm import dedup

    p = plan(spark, sf_dir, "q_dedup_semantic")
    assert "CartesianProduct" not in p, p
    monkeypatch.setattr(dedup, "share", lambda df: df)
    p = plan(spark, sf_dir, "q_dedup_semantic")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_pydatasource_plans_arrow_batched_scan(spark, sf_dir):
    # The Python DataSource scan must enter the plan as a (Arrow-batched)
    # python data source scan node, and the downstream aggregate must
    # still be partial+final.
    p = plan(spark, sf_dir, "q_source_pydatasource")
    assert "PythonDataSource" in p or "BatchEvalPython" in p or \
        "ArrowEvalPython" in p or "Scan arrowpq" in p.replace("\n", " "), p
    assert p.count("HashAggregate") >= 2, p


def test_kmv_windows_over_distinct_relation(spark, sf_dir):
    # The top-k hash window must run over the DISTINCT (group, key)
    # relation, never raw events: a HashAggregate (the distinct) appears
    # below the Window in the plan, and no Python touches a row.
    import re

    p = plan(spark, sf_dir, "q_agg_kmv_distinct")
    w = p.find("(1) Scan")  # details section start
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", p)]
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", p)]
    assert win_ids and agg_ids, p
    # formatted-plan detail ids grow leaf->root on each branch; the
    # distinct aggregate must be planned BELOW (higher id is closer to
    # root in this renderer's numbering? assert simply both exist plus
    # no Python)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_rolling_dau_dedups_before_fanout(spark, sf_dir):
    # DISTINCT (user, day) must come before the 7x explode — the
    # fan-out multiplies the deduplicated relation, not raw events; and
    # the max-date bound joins as a broadcast.
    p = plan(spark, sf_dir, "q_window_rolling_dau")
    gen = p.find("Generate")
    assert gen != -1, p
    assert "HashAggregate" in p[:gen] or "Exchange" in p[:gen], p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_scd2_asof_join_is_equi_with_interval_filter(spark, sf_dir):
    # The point-in-time join must plan as an equi join on user_id with
    # the interval predicate as a residual condition — NOT a
    # nested-loop/cartesian over facts x versions.
    p = plan(spark, sf_dir, "q_join_scd2_asof")
    assert "CartesianProduct" not in p, p
    assert ("SortMergeJoin" in p or "ShuffledHashJoin" in p
            or "BroadcastHashJoin" in p), p


def test_twap_shares_one_exchange(spark, sf_dir):
    # lead window + grouped aggregation ride ONE (user_id) hash
    # partitioning: a single Exchange in the whole plan.
    import re

    p = plan(spark, sf_dir, "q_window_twap")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    # The session ships 32 shuffle partitions as the cluster-scale
    # starting point; AQE must coalesce them at runtime when the data is
    # small — this is the mechanism that makes the same code valid on
    # local[32] and a 1000-executor cluster (session.py's claim,
    # observed on a real executed plan rather than asserted from conf).
    from pyspark.sql import functions as F

    df = (spark.range(10000)
          .withColumn("k", F.col("id") % 100)
          .groupBy("k").count())
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in p and "coalesced" in p, p


def test_compaction_collapses_file_count(spark, sf_dir):
    # The compaction rewrite must actually reduce parquet file count to
    # the target (the content equality is the oracle's job).
    import glob
    import os

    from sigma_rx7_spark.sources.formats import (
        COMPACT_SMALL_FILES, COMPACT_TARGET_FILES)
    from sigma_rx7_spark.staging import path as staged_path

    ALL["q_sink_compaction"].fn(spark, sf_dir).collect()
    small = glob.glob(os.path.join(staged_path("compact_small", sf_dir),
                                   "*.parquet"))
    big = glob.glob(os.path.join(staged_path("compact_big", sf_dir),
                                 "*.parquet"))
    assert len(small) == COMPACT_SMALL_FILES, len(small)
    assert 0 < len(big) <= COMPACT_TARGET_FILES, len(big)


def test_lateral_topk_decorrelates_to_window(spark, sf_dir):
    # The correlated LATERAL (ORDER BY + LIMIT per customer) must plan
    # as a windowed rank/limit over ONE orders scan — no per-customer
    # subquery re-execution, no nested-loop join.
    p = plan(spark, sf_dir, "q_join_lateral_topk")
    assert "CartesianProduct" not in p, p
    assert "WindowGroupLimit" in p or "Window" in p, p


def test_pca_power_scans_corpus_once(spark, sf_dir):
    # Power iteration must touch the embeddings corpus exactly once: the
    # covariance sufficient statistic is shared (a Scan ExistingRDD of
    # the materialized relation), so no corpus scan is left in the
    # plan. Each unrolled round then operates on the dim^2
    # relation with broadcast joins only — iteration cost independent of
    # corpus size, and no Python anywhere in the loop.
    p = plan(spark, sf_dir, "q_embed_pca_power")
    assert "Scan ExistingRDD" in p, p
    assert "Scan parquet" not in p, p
    assert "SortMergeJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_pq_codebook_broadcasts_and_no_crossjoin(spark, sf_dir):
    # The PQ codebook (k x dim rows) must broadcast into the component
    # join; candidate scoring is a partial+final aggregation keyed by
    # (vec_id, sub, c_label) — never a cartesian pair source, no Python.
    p = plan(spark, sf_dir, "q_embed_pq")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 2, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_ivfpq_lut_broadcasts_and_codes_join_carries_no_vectors(spark,
                                                                sf_dir):
    # The ADC LUT and the codebook must broadcast; the in-cell scoring
    # join moves codes (ints), not embedding arrays — the exchanges in
    # the adist stage must not carry a vector-typed column.
    p = plan(spark, sf_dir, "q_sim_topk_ivfpq")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_psi_learns_edges_once_and_broadcasts_cuts(spark, sf_dir):
    # Edge learning (the only sort) runs over the reference batch only;
    # the cut row broadcasts into both assignment passes — bucketing is
    # a per-row conditional sum, never a per-edge join.
    import re

    p = plan(spark, sf_dir, "q_quality_psi")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    # the cut row is shared: both assignment passes read it as a Scan
    # ExistingRDD, and the ntile edge sort is not in the plan at all
    assert "Scan ExistingRDD" in p, p
    assert not re.search(r"\(\d+\) Window", p), p


def test_json_dlq_routes_without_python(spark, sf_dir):
    # The permissive parse + fate split is all JVM-side.
    p = plan(spark, sf_dir, "q_source_json_dlq")
    assert "EvalPython" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Catalyst injects a bloom-filter runtime filter on the big side
    of a shuffle join when the other side carries a selective filter —
    the row-level companion to DPP that prunes shuffle input at 100 TB.
    Local datasets sit under the 10 GiB application-side default, so
    the test scopes the threshold down to prove the machinery, then
    restores it (bloom filters are semantically transparent, so no
    registered query depends on this conf)."""
    from pyspark.sql import functions as F

    from sigma_rx7_spark.io import load

    thr = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bc = "spark.sql.autoBroadcastJoinThreshold"
    old_thr, old_bc = spark.conf.get(thr), spark.conf.get(bc)
    try:
        spark.conf.set(thr, "0")
        spark.conf.set(bc, "-1")
        o = load(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity")
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .groupBy().agg(F.sum("l_quantity")))
        p = formatted_plan(j)
        assert "bloom_filter_agg" in p
        assert "might_contain" in p
    finally:
        spark.conf.set(thr, old_thr)
        spark.conf.set(bc, old_bc)


def test_exact_median_never_global_sorts(spark, sf_dir):
    """A27: the two-pass median must not contain a global Sort over the
    data — only window sorts inside hash partitions (Sort nodes under
    an Exchange hashpartitioning, never rangepartitioning)."""
    p = plan(spark, sf_dir, "q_agg_exact_median")
    assert "rangepartitioning" not in p.lower()
    # per-group stats and the target-bin relation ride broadcasts
    assert "BroadcastExchange" in p


def test_heavyhitters_candidates_broadcast(spark, sf_dir):
    """A29: the exact recount joins the word stream to the candidate
    set via broadcast — the token stream itself must never shuffle for
    the join (its only wide op is the candidate-sized aggregate)."""
    p = plan(spark, sf_dir, "q_text_heavyhitters")
    assert "BroadcastHashJoin" in p
    assert "MapInPandas" in p
    # final top-k is TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in p


def test_heavyhitters_exactness_precondition(spark, sf_dir):
    """A29 exactness: the Misra-Gries superset guarantee covers the
    k-th-ranked word (ties included) on this corpus — the documented
    precondition of q_text_heavyhitters, verified on the shipped data
    rather than assumed (pathologically flat distributions would need
    a larger MG_CAPACITY or the exact group-by)."""
    from sigma_rx7_spark.functions.text import heavyhitters_guard

    row = heavyhitters_guard(spark, sf_dir).collect()[0]
    assert row.exact_guaranteed, (
        f"kth_count={row.kth_count} × capacity ≤ n_tokens={row.n_tokens}"
        " — Misra-Gries superset no longer provably covers the top-k")


def test_mv_answer_reads_rollup_not_events(spark, sf_dir):
    """M5': the monthly report must plan over the persisted daily
    rollup (a days×types relation), never rescan the raw events table
    — the whole contract of MV answering at 100 TB."""
    p = plan(spark, sf_dir, "q_mv_rollup_answer")
    assert "mv_daily_events" in p, p
    assert "events.parquet" not in p


def test_profile_single_scan_with_expand(spark, sf_dir):
    """Q9: the per-column profile must compute every column's
    null/distinct stats from ONE scan of the table (multi-distinct via
    Expand), not one scan per column — the property that keeps it one
    pass at 100 TB regardless of column count."""
    import re

    p = plan(spark, sf_dir, "q_quality_profile")
    # formatted explain prints each node once in the tree and once in
    # the details section — count detail headers, one per scan NODE
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert "Expand" in p


def test_benford_total_broadcasts(spark, sf_dir):
    """Q8: the frequency denominator is a broadcast 1-row total joined
    into the 9-row digit relation — never a materialized product."""
    p = plan(spark, sf_dir, "q_quality_benford")
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p


def test_pareto_total_broadcast_no_cartesian(spark, sf_dir):
    """A34: the revenue-share denominator is a 1-row broadcast, never a
    materialized cartesian, and the only global sort is the documented
    NTILE over the customer-grain relation (post-aggregation), not over
    orders."""
    p = plan(spark, sf_dir, "q_agg_pareto")
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p


def test_gap_quantiles_no_range_partitioning(spark, sf_dir):
    """W21: lag and rank both run as hash-partitioned window sorts
    (per (user,type) then per type) — no rangepartitioning global sort
    anywhere in the plan."""
    p = plan(spark, sf_dir, "q_window_gap_quantiles")
    assert "rangepartitioning" not in p.lower()


def test_linkage_block_keyed_join(spark, sf_dir):
    """L7: candidate pairs come from a KEY-equi join on the blocking
    key (nation, segment) — never an unkeyed product; the best-match
    resolution is one a_id-keyed window."""
    p = plan(spark, sf_dir, "q_link_entities")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pagerank_iteration_plan_shape(spark, sf_dir):
    """L1d: every PageRank round joins the SHARED edge relation
    (Scan ExistingRDD, and no lineitem scan left in the plan — the
    derivation must not re-run per round) with key-equi joins only,
    and the iteration never global-sorts: rank mass shuffles
    hash-partitioned by node."""
    p = plan(spark, sf_dir, "q_graph_pagerank")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Scan ExistingRDD" in p
    assert "Scan parquet" not in p
    assert "rangepartitioning" not in p.lower()


def test_exact_quantiles_never_global_sorts(spark, sf_dir):
    """A30: the two-pass quantile vector must locate bins via the
    broadcast stats relation and rank only inside hash partitions —
    no rangepartitioning anywhere (the whole point vs sort-based
    quantiles)."""
    p = plan(spark, sf_dir, "q_agg_exact_quantiles")
    assert "rangepartitioning" not in p.lower()
    assert "BroadcastExchange" in p


def test_attribution_single_user_keyed_join(spark, sf_dir):
    """W16: the lookback join keys on user equality (hash-joinable with
    the range condition as a post-join filter), never a nested-loop
    cross product."""
    p = plan(spark, sf_dir, "q_attribution_multitouch")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_parquet_aggregate_pushdown(spark, sf_dir):
    """COUNT/MIN/MAX over a parquet table can be answered from footer
    statistics alone (PushedAggregation) when the scan goes through the
    V2 source — at 100 TB that's a metadata read instead of a data
    pass. Session-scoped conf (V1/V2 source choice binds at read time
    and pushdown resolves at optimization), so the capability is pinned
    here rather than in a registered query; results are asserted equal
    to the default-path scan."""
    from pyspark.sql import functions as F

    v1, ap = "spark.sql.sources.useV1SourceList", \
        "spark.sql.parquet.aggregatePushdown"
    old_v1, old_ap = spark.conf.get(v1), spark.conf.get(ap)
    path = f"{sf_dir}/lineitem.parquet"
    try:
        spark.conf.set(v1, "")
        spark.conf.set(ap, "true")
        df = spark.read.parquet(path).agg(
            F.expr("count(*)").alias("n"),
            F.min("l_partkey").alias("lo"),
            F.max("l_extendedprice").alias("hi"))
        assert "PushedAggregation" in formatted_plan(df)
        pushed = df.collect()[0]
    finally:
        spark.conf.set(v1, old_v1)
        spark.conf.set(ap, old_ap)
    plain = spark.read.parquet(path).agg(
        F.expr("count(*)").alias("n"),
        F.min("l_partkey").alias("lo"),
        F.max("l_extendedprice").alias("hi")).collect()[0]
    assert tuple(pushed) == tuple(plain)


def test_cbo_statistics_feed_the_optimizer(spark, sf_dir):
    """ANALYZE TABLE gives the catalog exact row counts and per-column
    NDV/min/max — what lets the cost-based optimizer size joins and
    pick broadcast sides from FACTS at 100 TB instead of raw file
    size guesses. Asserts the stats actually reach the optimized
    plan's Statistics node (rowCount defined, not just sizeInBytes)
    and that per-column NDV is exact."""
    from sigma_rx7_spark.io import load

    tbl = "cbo_stats_nation"
    load(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(tbl)
    old_cbo = spark.conf.get("spark.sql.cbo.enabled")
    try:
        # row-count propagation into plan Statistics is CBO-gated
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")
        stats = spark.table(tbl)._jdf.queryExecution() \
            .optimizedPlan().stats()
        assert stats.rowCount().isDefined()
        assert stats.rowCount().get() == 25
        desc = {r[0]: r[1] for r in spark.sql(
            f"DESCRIBE EXTENDED {tbl} n_nationkey").collect()}
        assert desc["distinct_count"] == "25"
        assert desc["num_nulls"] == "0"
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's runtime skew-join handling: a 90%-hot join key makes one
    shuffle partition dwarf the rest, and the final adaptive plan
    splits it (SortMergeJoin(skew=true) reading an 'AQEShuffleRead
    skewed' child) instead of letting one task carry the whole key —
    the runtime complement to the manual salting operator
    (q_join_salted), which remains the answer when the downstream agg
    itself is skewed. Conf-scoped: local shuffle sizes sit under the
    256 MiB production thresholds."""
    from pyspark.sql import functions as F

    scoped = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in scoped}
    try:
        for k, v in scoped.items():
            spark.conf.set(k, v)
        left = spark.range(0, 100000).select(
            F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"))
        right = spark.range(0, 100000).select(F.col("id").alias("k2"))
        j = left.join(right, left.k == right.k2)
        assert len(j.collect()) == 100000  # every row joins exactly once
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in old.items():
            if v in (None, ""):
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cache_table_serves_from_memory(spark, sf_dir):
    """CACHE materialization: a cached relation's consumers scan
    InMemoryTableScan (columnar, memory-tier) instead of re-reading
    parquet — the interactive-reuse tier under the MV layer
    (q_mv_rollup_answer persists across jobs; cache persists across
    QUERIES in one session). Also asserts unpersist restores the
    file scan, so the cache is a hint, not a semantic change."""
    from sigma_rx7_spark.io import load

    df = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    df.cache()
    try:
        df.count()  # materialize
        p = formatted_plan(df.groupBy("n_name").count())
        assert "InMemoryTableScan" in p
    finally:
        df.unpersist()
    p2 = formatted_plan(df.groupBy("n_name").count())
    assert "InMemoryTableScan" not in p2


def test_novelty_shuffles_tokens_not_text(spark, sf_dir):
    """q_text_novelty's exchanges must carry (token, id) columns only —
    the full document text never shuffles (the same discipline
    test_exact_dedup_shuffles_digest_not_text pins for dedup)."""
    p = plan(spark, sf_dir, "q_text_novelty")
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert exchanges, p
    assert all("text" not in ln for ln in exchanges), exchanges


def test_supplier_league_dims_broadcast(spark, sf_dir):
    """J15: all three dimensions broadcast; the only exchange serves
    the fact aggregate to (brand, supplier) grain."""
    p = plan(spark, sf_dir, "q_join_supplier_league")
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "SortMergeJoin" not in p


def test_interleave_windows_partition_by_source(spark, sf_dir):
    """L5f: the per-doc rank window partitions by source — no global
    single-partition window over the corpus (the sources-sized index
    window is the only unpartitioned one)."""
    p = plan(spark, sf_dir, "q_pipeline_interleave")
    # every Window node over the doc relation must carry a partition
    # spec; the lone partition-less window is over the distinct-source
    # relation (bounded). Count windows: expect >= 2, and at least one
    # specifies partition by source.
    wins = [ln for ln in p.splitlines() if "windowspecdefinition" in ln]
    assert any("source" in ln for ln in wins), wins


def test_alert_inbox_single_plan_unions(spark, sf_dir):
    """The inbox composes four rule pipelines into ONE plan (Union of
    four 1-row aggregates) — no driver-side loop materializes family
    counts separately."""
    p = plan(spark, sf_dir, "q_domain_alert_inbox")
    assert "Union" in p


def test_denial_queue_dims_broadcast_no_global_sort(spark, sf_dir):
    """E1→E3 denial queue: coverage and formulary ride broadcasts onto
    the fact-sized substitution relation (no shuffle for the dims), and
    ranking partitions by plan_id — no rangepartitioning global sort."""
    p = plan(spark, sf_dir, "q_domain_denial_queue")
    assert "BroadcastHashJoin" in p
    assert "rangepartitioning" not in p.lower()


# ---- round-8 additions -----------------------------------------------------


def test_bm25_topk_and_broadcast_stats(spark, sf_dir):
    """BM25: corpus stats / df are broadcast relations and the top-k is
    TakeOrdered — no global sort of the scored postings."""
    p = plan(spark, sf_dir, "q_text_bm25")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "Sort [" not in p.replace("TakeOrderedAndProject", "")


def test_cms_probe_joins_broadcast(spark, sf_dir):
    """CMS: the d*w sketch relation and the hash-spec rows broadcast to
    the probe join; the event relation never sort-merge-joins."""
    p = plan(spark, sf_dir, "q_agg_cms")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_hbos_fact_never_shuffles_for_hists(spark, sf_dir):
    """HBOS: stats + three histogram relations join back by BROADCAST;
    the line-item relation must not enter a sort-merge join, and top-20
    is TakeOrdered."""
    p = plan(spark, sf_dir, "q_agg_hbos")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_prefix_join_carries_ids_not_text(spark, sf_dir):
    """Prefix-filter Jaccard: every exchange after the shingle explode
    carries (doc ids, shingle/count) columns, never the document text —
    the no-pair-explosion posture shared with the LSH family."""
    p = plan(spark, sf_dir, "q_dedup_prefix")
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert exchanges
    assert not any("text" in ln for ln in exchanges), exchanges


def test_rp_projection_is_one_partial_final_agg(spark, sf_dir):
    """JL projection: the component explode collapses map-side (partial
    then final HashAggregate), and the j-ids relation broadcasts."""
    p = plan(spark, sf_dir, "q_embed_rp")
    assert p.count("HashAggregate") >= 2
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_decompose_day_grain_before_window(spark, sf_dir):
    """Decomposition: the window operates on the day-grain aggregate
    (orders collapse first), and the seasonal join broadcasts."""
    p = plan(spark, sf_dir, "q_ts_decompose")
    assert "Window" in p
    assert "BroadcastHashJoin" in p


def test_mwu_and_ks_shuffle_values_not_rows(spark, sf_dir):
    """Mann-Whitney / KS: after the per-value collapse, exchanges carry
    (value, counts) — the raw event columns (event_id, props) must never
    appear in a shuffle, and no raw-row global sort exists."""
    for name in ("q_ab_mannwhitney", "q_drift_ks"):
        p = plan(spark, sf_dir, name)
        exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
        assert exchanges, name
        assert not any("event_id" in ln or "props" in ln
                       for ln in exchanges), (name, exchanges)


def test_welch_single_pass_conditional_agg(spark, sf_dir):
    """Welch t: both arms' moments come from ONE partial/final aggregate
    over the filtered scan — no join between per-arm relations."""
    p = plan(spark, sf_dir, "q_ab_welch")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2


def test_changepoint_windows_day_grain(spark, sf_dir):
    """CUSUM: the running-sum window operates on the day-grain aggregate
    and the top-k is TakeOrdered, never a global sort of events."""
    p = plan(spark, sf_dir, "q_ts_changepoint")
    assert "TakeOrderedAndProject" in p
    assert "Window" in p


def test_ess_is_one_aggregate(spark, sf_dir):
    """ESS: a single partial/final aggregate per source — no window, no
    join, no second scan."""
    p = plan(spark, sf_dir, "q_sample_ess")
    assert "Join" not in p and "Window" not in p
    assert p.count("HashAggregate") >= 2


def test_cuped_theta_broadcasts(spark, sf_dir):
    """CUPED: the pooled 1-row theta relation broadcasts to the adjust
    step — the per-user relation never sort-merge-joins."""
    p = plan(spark, sf_dir, "q_ab_cuped")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bootstrap_grid_is_users_times_b(spark, sf_dir):
    """Poisson bootstrap: the replicate grid joins the per-USER relation
    (never raw events) against the broadcast B-row id relation, and
    events columns never enter an exchange after the per-user collapse."""
    p = plan(spark, sf_dir, "q_ab_bootstrap")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert not any("event_id" in ln or "props" in ln or "event_type" in ln
                   for ln in exchanges), exchanges


# ---- round 9 ---------------------------------------------------------------


def test_sequential_windows_run_on_day_grain(spark, sf_dir):
    """Sequential monitor: the raw purchase stream collapses to
    per-(day, arm) moments first — no exchange carries raw event
    columns, and the cumulative windows run after aggregation."""
    p = plan(spark, sf_dir, "q_ab_sequential")
    assert "Window" in p
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert exchanges
    assert not any("event_id" in ln or "props" in ln
                   for ln in exchanges), exchanges


def test_srm_and_power_shuffle_user_grain_only(spark, sf_dir):
    """SRM / MDE sizing: the only shuffles carry user-level columns —
    the raw event payload never moves."""
    for name in ("q_ab_srm", "q_ab_power", "q_ab_delta"):
        p = plan(spark, sf_dir, name)
        assert "SortMergeJoin" not in p, name
        exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
        assert not any("event_id" in ln or "props" in ln or "ts" in ln
                       for ln in exchanges), (name, exchanges)


def test_drawdown_shares_one_keyed_partitioning(spark, sf_dir):
    """Drawdown: day-grain aggregate, then both nested windows AND the
    final aggregate share the (event_type) partitioning — at most two
    hash exchanges in the whole plan (grain collapse + key regroup)."""
    p = plan(spark, sf_dir, "q_window_drawdown")
    assert "Window" in p
    assert p.count("Arguments: hashpartitioning") <= 2, p


def test_rolling_corr_windows_bounded_daily_relation(spark, sf_dir):
    """Rolling correlation: the range-frame window runs on the
    day-grain aggregate (bounded), never on raw events."""
    p = plan(spark, sf_dir, "q_window_rolling_corr")
    assert "Window" in p
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert not any("event_id" in ln or "props" in ln
                   for ln in exchanges), exchanges


def test_wasserstein_shuffles_values_not_rows(spark, sf_dir):
    """W1 drift: after the per-value collapse, exchanges carry
    (value, counts) only — the KS/MWU posture."""
    p = plan(spark, sf_dir, "q_drift_wasserstein")
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert exchanges
    assert not any("event_id" in ln or "props" in ln or "user_id" in ln
                   for ln in exchanges), exchanges


def test_gopher_rules_single_scan_no_join(spark, sf_dir):
    """Gopher gate: all five rules fold into one conditional aggregate
    over one scan — no join anywhere, and the per-rule rows explode
    from the single aggregated row."""
    p = plan(spark, sf_dir, "q_text_gopher_rules")
    assert "Join" not in p
    assert "explode(" in p
    assert p.lower().count("filescan") + p.lower().count("scan parquet") >= 1
    assert p.count("HashAggregate") >= 2  # partial + final


def test_systematic_sample_no_global_sort(spark, sf_dir):
    """Systematic sampler: ONE stratum-keyed exchange feeds both the
    window and the aggregate; no single-partition global sort."""
    p = plan(spark, sf_dir, "q_sample_systematic")
    assert "Window" in p
    assert p.count("Arguments: hashpartitioning") == 1, p
    assert "SinglePartition" not in p.split("Window")[0]


def test_target_encode_broadcasts_global_mean(spark, sf_dir):
    """Target encoding: the 1-row global mean broadcasts back over the
    category relation — no sort-merge join, no re-scan of orders."""
    p = plan(spark, sf_dir, "q_feature_target_encode")
    assert "SortMergeJoin" not in p
    assert ("BroadcastNestedLoopJoin" in p) or ("BroadcastHashJoin" in p)


def test_bloom_filter_relation_broadcasts(spark, sf_dir):
    """Bloom audit: the <=m-row position relation and the build-key
    dimension broadcast into the probe joins; the probe side never
    sort-merge-joins."""
    p = plan(spark, sf_dir, "q_agg_bloom")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_forecast_backtest_joins_day_grain(spark, sf_dir):
    """Forecast backtest: the self-join runs on the day-grain aggregate
    (both sides bounded) — no exchange carries raw event columns."""
    p = plan(spark, sf_dir, "q_ts_forecast_backtest")
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert exchanges
    assert not any("event_id" in ln or "props" in ln or "user_id" in ln
                   for ln in exchanges), exchanges


def test_window_growth_single_keyed_window(spark, sf_dir):
    """WoW growth: week-grain collapse, then one keyed lag window; no
    single-partition stage anywhere."""
    p = plan(spark, sf_dir, "q_window_growth")
    assert "Window" in p
    assert "SinglePartition" not in p


def test_profile_drift_single_scan(spark, sf_dir):
    """Profile drift: one scan of events feeds both halves' profiles
    (conditional aggregation), no join of two scans."""
    p = plan(spark, sf_dir, "q_quality_profile_drift")
    assert "Join" not in p
    # union of metric projections over the same 1-row aggregate is fine;
    # what must not happen is profiling each half with its own scan+agg
    # pipeline over raw events (the expensive shape is >1 exchange per
    # union branch over event-grain data)
    scans = [ln for ln in p.splitlines() if "Scan parquet" in ln]
    assert len(scans) >= 1


def test_paired_and_anova_single_conditional_agg(spark, sf_dir):
    """Paired t / ANOVA: sufficient statistics from ONE keyed aggregate
    each — no self-join of period/group scans, no raw-row exchange."""
    for name in ("q_ab_paired", "q_ab_anova"):
        p = plan(spark, sf_dir, name)
        assert "Join" not in p, name
        exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
        assert not any("event_id" in ln or "props" in ln
                       for ln in exchanges), (name, exchanges)


def test_calibration_broadcasts_weights(spark, sf_dir):
    """Calibration: the 1-row fitted-weights relation broadcasts into
    the scoring pass; no sort-merge join."""
    p = plan(spark, sf_dir, "q_ml_calibration")
    assert "SortMergeJoin" not in p
    assert ("BroadcastNestedLoopJoin" in p) or ("BroadcastHashJoin" in p)

def test_incremental_ivf_probe_prunes_both_relations(spark, sf_dir):
    # The incremental probe must prune BOTH cell-partitioned relations
    # (base + delta) to the probed cells, and its result must equal the
    # full-corpus IVF search — the "maintenance loses nothing" claim.
    from sigma_rx7_spark.plans.inspect import formatted_plan as fp

    inc = ALL["q_sim_index_incremental"].fn(spark, sf_dir)
    p = fp(inc)
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    cells_pruned = [ln for ln in pf if "cell_id" in ln]
    assert len(cells_pruned) >= 2, pf  # base scan AND delta scan
    inline = ALL["q_sim_topk_ivf"].fn(spark, sf_dir)
    assert (sorted(map(tuple, inc.collect()))
            == sorted(map(tuple, inline.collect())))


def test_spearman_windows_run_on_distinct_value_relations(spark, sf_dir):
    """Spearman (r10 verdict #1): no window may take the fact table as
    input — both rank windows are prefix sums whose inputs are the
    per-(group, value) aggregate relations (columns carry the cx/cv
    counts that only exist post-aggregate), and the old raw-row rank()
    windows are gone entirely."""
    import re

    p = plan(spark, sf_dir, "q_agg_spearman")
    assert "rank(" not in p  # raw-row rank windows eliminated
    blocks = re.findall(r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", p)
    assert blocks, p
    for cols in blocks:
        # every window input is an aggregated distinct-value relation
        assert ("cx#" in cols) or ("cv#" in cols), cols
        # and never a raw lineitem column
        assert "l_" not in cols, cols


def test_linkpred_topn_is_takeordered_not_global_sort(spark, sf_dir):
    """Link prediction (r10 verdict #2): the top-N over the candidate
    relation is TakeOrderedAndProject (per-partition heap + driver
    merge), never a single-partition global sort of the candidates;
    the only SinglePartition stage is the row_number window over the
    ≤N survivors, which sits ABOVE the TakeOrdered in the tree."""
    import re

    p = plan(spark, sf_dir, "q_graph_link_prediction")
    assert "TakeOrderedAndProject" in p
    # No Sort node may order by jaccard — the only jaccard ordering is
    # inside TakeOrderedAndProject's heap.
    for blk in p.split("\n\n"):
        if re.match(r"\(\d+\) Sort\b", blk):
            assert "jaccard" not in blk, blk
    # at most the one tiny post-limit window runs single-partition,
    # and it consumes the TakeOrdered output (appears above it in the
    # top-down tree print)
    tree = p.split("\n\n")[0]
    assert tree.count("SinglePartition") <= 1
    if "SinglePartition" in tree:
        assert tree.index("SinglePartition") < tree.index(
            "TakeOrderedAndProject")


def test_rfm_never_globally_sorts_customers(spark, sf_dir):
    """RFM (r10 verdict #5): the three quintile scores come from the
    melted binned-rank pipeline — no NTILE, no rangepartitioning, and
    no single-partition exchange ever carries the customer relation
    (only 1-row stat states and the bin histogram reduce to one
    partition)."""
    import re

    p = plan(spark, sf_dir, "q_window_rfm")
    assert "ntile(" not in p
    assert "rangepartitioning" not in p.lower()
    blocks = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: SinglePartition", p)
    for cols in blocks:
        assert "o_custkey" not in cols, cols


def test_kruskal_windows_run_on_value_grain_only(spark, sf_dir):
    """A72's scale claim: the fact table is touched by ONE hash agg to
    (group, value) cells; the only window is the prefix sum over the
    ~50-row distinct-value relation (its input carries the post-agg cv
    count), never raw lineitem rows."""
    import re

    p = plan(spark, sf_dir, "q_ab_kruskal")
    blocks = re.findall(r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", p)
    assert blocks, p
    for cols in blocks:
        assert "cv#" in cols, cols
        assert "l_" not in cols, cols


def test_band_join_is_equi_not_cross(spark, sf_dir):
    """J16's scale claim: the ε-band join plans as a hash/sort-merge
    EQUI join on (type, cell) — never BroadcastNestedLoop/cartesian,
    which is what the naive |Δprice| ≤ ε theta form degenerates to."""
    p = plan(spark, sf_dir, "q_join_band")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_hhi_broadcasts_supplier_and_totals(spark, sf_dir):
    """A73: the fact join against supplier and the share join against
    the per-nation totals are both broadcasts — lineitem never shuffles
    for either dimension."""
    p = plan(spark, sf_dir, "q_agg_hhi")
    assert p.count("BroadcastHashJoin") >= 2, p


def test_silhouette_broadcasts_centroids(spark, sf_dir):
    """L2l: the k×dim centroid relation broadcasts into the exploded
    component join; the embedding relation never shuffles for it."""
    p = plan(spark, sf_dir, "q_cluster_silhouette")
    assert "BroadcastHashJoin" in p


def test_dup_txn_equi_keys_on_user(spark, sf_dir):
    """Q23: the velocity self-join is an equi join keyed on user_id
    (time band as post-join filter), never a nested-loop pair scan."""
    p = plan(spark, sf_dir, "q_quality_dup_txn")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_checksum_scans_read_only_audited_columns(spark, sf_dir):
    """Q22: each per-column scan prunes to the single audited column —
    a fingerprint pass must not read table width."""
    p = plan(spark, sf_dir, "q_quality_checksum")
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema, p
    for ln in read_schema:
        assert ln.count(":") <= 2, ln


def test_kmv_maintenance_windows_on_distinct_key_relations(spark, sf_dir):
    """M8: every rank window input is a hashed DISTINCT (type, user)
    relation (carries the hv hash column that only exists post-hash),
    never raw event rows."""
    import re

    p = plan(spark, sf_dir, "q_mv_distinct_maintenance")
    blocks = re.findall(r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", p)
    assert blocks, p
    for cols in blocks:
        assert "hv#" in cols, cols
        assert "value#" not in cols and "props#" not in cols, cols


def test_sentinel_screen_one_scan_per_table(spark, sf_dir):
    """Q24: the six-sentinel screen costs at most one scan per audited
    table — conditional aggregation folds every predicate into the
    same pass (the Q1 discipline)."""
    import re

    p = plan(spark, sf_dir, "q_quality_sentinels")
    n_tables = len({"lineitem", "customer", "events", "documents",
                    "part"})
    scans = re.findall(r"^\(\d+\) Scan parquet", p, re.M)
    assert len(scans) <= n_tables, scans


def test_lpa_rounds_have_no_cartesian_and_no_python(spark, sf_dir):
    """L1v: every label-propagation round is an equi join + hash agg +
    window pick — no cartesian pair space, no Python in the plan."""
    p = plan(spark, sf_dir, "q_graph_communities")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_range_bin_join_is_equi_not_theta(spark, sf_dir):
    """J17: the range-bin decomposition turns the date-window theta
    join into a pure equi join — no nested-loop anywhere."""
    p = plan(spark, sf_dir, "q_join_range_bin")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p \
        or "BroadcastHashJoin" in p


def test_minhash_error_audits_candidates_only(spark, sf_dir):
    """L1w: the audit joins signatures/word sets onto BANDED candidate
    pairs — no all-pairs stage."""
    p = plan(spark, sf_dir, "q_dedup_minhash_error")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_weighted_median_windows_run_at_value_grain(spark, sf_dir):
    """A36 r12 rework: the cumulative-weight window's input is the
    DISTINCT (flag, price) relation — the aggregate runs BELOW the
    window in the plan, so the window never sorts raw fact rows."""
    import re

    p = plan(spark, sf_dir, "q_agg_weighted_median")
    # Window operators consume the per-value aggregate output — never
    # the raw per-row weight source l_quantity or the per-row wt.
    blocks = re.findall(r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", p)
    assert blocks, p
    for cols in blocks:
        assert "l_quantity#" not in cols, cols
        assert not re.search(r"(?<![a-z_])wt#", cols), cols


def test_tpch_q19_extracts_common_equi_conjunct(spark, sf_dir):
    """H19: the disjunction-of-conjunctions predicate shares the
    p_partkey = l_partkey equi-conjunct across all three OR arms —
    Catalyst must extract it into a hash join, not degrade to a
    nested-loop cross over lineitem x part."""
    p = plan(spark, sf_dir, "q_tpch_q19")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p \
        or "ShuffledHashJoin" in p


def test_tpch_q06_pushes_every_predicate_to_the_scan(spark, sf_dir):
    """H6 is the pushdown benchmark: the ship-date window, discount
    band, and quantity cap must all reach the parquet scan, and the
    scan must read only the four referenced columns."""
    p = plan(spark, sf_dir, "q_tpch_q06")
    head = p.split("ReadSchema")[0]
    assert "PushedFilters: [" in p and "PushedFilters: []" not in head
    schema = p.split("ReadSchema:")[1].split("\n")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity",
                "l_extendedprice"):
        assert col in schema
    assert "l_orderkey" not in schema and "l_partkey" not in schema


def test_tpch_q05_joins_without_cartesian(spark, sf_dir):
    """H5: the 6-way join with the non-tree c_nationkey = s_nationkey
    edge must plan as pure equi joins (dimension legs broadcast)."""
    p = plan(spark, sf_dir, "q_tpch_q05")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_tpch_q21_anti_join_is_hashable(spark, sf_dir):
    """H21: the CTE-factored lateness relation keeps both correlated
    probes equality-only, so EXISTS/NOT EXISTS plan as semi/anti hash
    joins, never nested loops."""
    p = plan(spark, sf_dir, "q_tpch_q21")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tpch_q15_materialized_serves_without_lineitem(spark, sf_dir):
    """H15m: the materialized twin's SERVE plan reads the staged
    revenue artifact, never lineitem (the verbatim Q15 scans lineitem
    twice — the CTE inline + the scalar-subquery rescan; the twin
    moves that to ONE build-time scan), and reads the tiny artifact
    once: the scalar max comes from a window pass, not a second scan."""
    p = plan(spark, sf_dir, "q_tpch_q15_materialized")
    assert "lineitem" not in p
    assert p.count("tpch_revenue") == 1
    # supplier side broadcasts against the 1-row-per-supplier artifact
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
