"""Round-15 regression tests for the two r14 ADVICE closures.

1. streaming/jobs.read_events_stream derives its file-set rule from
   io._table_path — in a MIXED layout (exact events.parquet plus
   suffixed drop files) batch and stream must consume the SAME file
   set (the exact file), where the old fixed 'events*.parquet' glob
   made the stream silently read the drop files too.
2. staging.stage raises on a declared input with an unmatched layout
   instead of freezing the staging stamp on an empty fingerprint.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
    T.StructField("ts_s", T.StringType()),
])


def _write_one_file(spark, rows, stage_dir: str, dst: str) -> None:
    df = (spark.createDataFrame(rows, _SCHEMA)
          .select("event_id", "user_id", "event_type", "value", "props",
                  F.col("ts_s").cast("timestamp").alias("ts")))
    df.coalesce(1).write.mode("overwrite").parquet(stage_dir)
    part = glob.glob(f"{stage_dir}/part-*.parquet")[0]
    shutil.move(part, dst)


def test_stream_and_batch_read_same_files_in_mixed_layout(spark, tmp_path):
    """Exact events.parquet + a suffixed drop file in one directory:
    the batch loader prefers the exact file (io._table_path), and
    the stream must follow the same resolver — 3 rows on both sides,
    not 3 batch vs 5 stream."""
    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.streaming.jobs import read_events_stream

    exact_rows = [
        (1, 1, "view", 1.0, "{}", "2024-01-01 10:00:00"),
        (2, 2, "purchase", 2.0, "{}", "2024-01-01 10:05:00"),
        (3, 1, "view", 3.0, "{}", "2024-01-01 10:10:00"),
    ]
    drop_rows = [
        (4, 3, "view", 4.0, "{}", "2024-01-01 11:00:00"),
        (5, 4, "view", 5.0, "{}", "2024-01-01 11:05:00"),
    ]
    _write_one_file(spark, exact_rows, str(tmp_path / "_s0"),
                    str(tmp_path / "events.parquet"))
    _write_one_file(spark, drop_rows, str(tmp_path / "_s1"),
                    str(tmp_path / "events_000.parquet"))

    batch_ids = sorted(
        r.event_id for r in load(spark, str(tmp_path), "events").collect())
    assert batch_ids == [1, 2, 3]

    batches = []
    q = (read_events_stream(spark, str(tmp_path))
         .writeStream.outputMode("append")
         .foreachBatch(lambda bdf, i: batches.append(
             sorted(r.event_id for r in bdf.collect())))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    stream_ids = sorted(i for b in batches for i in b)
    assert stream_ids == batch_ids, (stream_ids, batch_ids)


def test_stream_still_reads_drop_files_when_no_exact_file(spark, tmp_path):
    """Drop-file-only layout (the replay/arrival shape): the resolver
    falls back to the suffixed glob and the stream sees every file."""
    from sigma_rx7_spark.streaming.jobs import read_events_stream

    for i, rows in enumerate((
            [(1, 1, "view", 1.0, "{}", "2024-01-01 10:00:00")],
            [(2, 2, "view", 2.0, "{}", "2024-01-01 11:00:00")])):
        _write_one_file(spark, rows, str(tmp_path / f"_s{i}"),
                        str(tmp_path / f"events_{i:03d}.parquet"))

    got = []
    q = (read_events_stream(spark, str(tmp_path))
         .writeStream.outputMode("append")
         .foreachBatch(lambda bdf, i: got.extend(
             r.event_id for r in bdf.collect()))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    assert sorted(got) == [1, 2]


def test_data_fingerprint_raises_on_unmatched_layout(tmp_path):
    """A staging whose declared input has zero parquet files must raise,
    naming the table, before anything is built."""
    from sigma_rx7_spark import staging

    def build(path):
        raise AssertionError("built over a missing input")

    with pytest.raises(FileNotFoundError, match="lineitem"):
        staging.stage("unmatched", str(tmp_path), build,
                      inputs=("lineitem",))
    (tmp_path / "lineitem.parquet").mkdir()  # dir-shaped, but empty
    with pytest.raises(FileNotFoundError, match="lineitem"):
        staging.stage("unmatched", str(tmp_path), build,
                      inputs=("lineitem",))


def test_data_fingerprint_still_reads_exact_file(sf_dir, tmp_path,
                                                 monkeypatch):
    """The harness layout (one exact ``<table>.parquet`` file) is a
    valid declared input: the staging builds once and is reused."""
    from sigma_rx7_spark import staging

    monkeypatch.setattr(staging, "_ROOT", str(tmp_path))
    built = []

    def build(path):
        built.append(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    p = staging.stage("exact", sf_dir, build, inputs=("lineitem",))
    assert staging.stage("exact", sf_dir, build, inputs=("lineitem",)) == p
    assert built == [p]


# ---- r15 optimization: input-parallelism repair (io.load_parallel) ----


def test_load_parallel_repairs_single_row_group_fixture(spark, sf_dir):
    """The harness fixture is one file / one row group, so the repair
    must fire (scan parallelism 1 < session cores) and insert exactly
    one round-robin exchange — and the rows must be the same multiset
    as the plain load's."""
    from pyspark.sql import functions as F

    from sigma_rx7_spark.io import load, load_parallel, \
        scan_split_parallelism

    assert scan_split_parallelism(sf_dir, "lineitem") < \
        spark.sparkContext.defaultParallelism
    rep = load_parallel(spark, sf_dir, "lineitem")
    plain = load(spark, sf_dir, "lineitem")
    p = rep._sc._jvm.PythonSQLUtils.explainString(
        rep._jdf.queryExecution(), "formatted")
    assert "RoundRobinPartitioning" in p, p
    # column pruning + filter pushdown must still reach the scan
    pruned = rep.where(F.col("l_quantity") > 49).select("l_orderkey")
    pp = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" \
        in pp, pp
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in pp, pp
    # same multiset of rows (aggregate fingerprint, order-insensitive)
    fp = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    assert tuple(fp(rep)) == tuple(fp(plain))


def test_load_parallel_noop_when_layout_already_parallel(spark, sf_dir,
                                                         tmp_path):
    """A multi-row-group layout at or above session parallelism must NOT
    gain the repair exchange — the scale posture (healthy layouts keep
    byte-identical plans)."""
    from sigma_rx7_spark.io import load

    n = spark.sparkContext.defaultParallelism
    dst = str(tmp_path / "sf_many" )
    os.makedirs(dst)
    # clone the fixture into >= n single-row-group files
    li = load(spark, sf_dir, "lineitem")
    li.repartition(n).write.mode("overwrite").parquet(
        os.path.join(dst, "lineitem.parquet"))
    from sigma_rx7_spark.io import load_parallel, scan_split_parallelism
    assert scan_split_parallelism(dst, "lineitem") >= n
    rep = load_parallel(spark, dst, "lineitem")
    p = rep._sc._jvm.PythonSQLUtils.explainString(
        rep._jdf.queryExecution(), "formatted")
    assert "RoundRobinPartitioning" not in p, p
