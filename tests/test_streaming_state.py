"""Streaming state BOUNDS (SURVEY.md §2 T8): result equality is proven
by the batch-equivalence oracles; this file proves the other half of the
contract — that watermarks actually EVICT buffered state, so the join
can run forever at production rates instead of accumulating history.

Method: split the events table into four time-quartile files, stream
them one file per micro-batch (maxFilesPerTrigger), run the same
watermarked interval join as q_stream_stream_join, and read the state
operator's metrics per batch. With a 30-day event span and a 2-hour
watermark, rows from early batches can never match again and must be
removed — numRowsTotal must plateau near the watermark horizon, not
track cumulative input.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from sigma_rx7_spark.io import load


def test_stream_stream_join_state_plateaus(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="state_bounds_")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    try:
        ev = load(spark, sf_dir, "events").where(
            F.col("event_type").isin("view", "purchase"))
        ev = ev.withColumn("_us", F.unix_micros("ts"))
        qs = ev.approxQuantile("_us", [0.25, 0.5, 0.75], 0.0)
        bounds = [None, *qs, None]
        for i in range(4):
            part = ev
            if bounds[i] is not None:
                part = part.where(F.col("_us") > F.lit(bounds[i]))
            if bounds[i + 1] is not None:
                part = part.where(F.col("_us") <= F.lit(bounds[i + 1]))
            part = part.drop("_us")
            # One file per quartile, written in event-time order so the
            # file source (ordered by modification time) replays history
            # chronologically — the realistic arrival order watermark
            # eviction depends on.
            part.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src, f"q{i}"))
        paths = sorted(
            os.path.join(src, f"q{i}", f)
            for i in range(4)
            for f in os.listdir(os.path.join(src, f"q{i}"))
            if f.endswith(".parquet"))
        flat = os.path.join(tmp, "flat")
        os.makedirs(flat)
        for i, p in enumerate(paths):
            dst = os.path.join(flat, f"b{i}.parquet")
            shutil.copyfile(p, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(flat)
        )
        views = (
            stream.where(F.col("event_type") == "view")
            .select("user_id", F.col("event_id").alias("view_id"),
                    F.col("ts").alias("view_ts"))
            .withWatermark("view_ts", "2 hours")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user_id"),
                    F.col("event_id").alias("purchase_id"),
                    F.col("ts").alias("p_ts"))
            .withWatermark("p_ts", "2 hours")
        )
        joined = views.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("view_ts"))
            & (F.col("p_ts") <= F.col("view_ts")
               + F.expr("interval 1 hour")),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("state_bounds_join")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = [p for p in q.recentProgress if p["stateOperators"]]
        totals = [p["stateOperators"][0]["numRowsTotal"]
                  for p in progress]
        removed = sum(p["stateOperators"][0]["numRowsRemoved"]
                      for p in progress)
        n_input = ev.count()

        assert len(totals) >= 3, f"expected multi-batch replay: {totals}"
        # Eviction actually happened (not just "state small because the
        # data is small").
        assert removed > 0, progress
        # The plateau property: buffered state at the end is bounded by
        # the watermark horizon, NOT cumulative input — with a 30-day
        # span and a 2h watermark the final batch must hold a small
        # fraction of everything ever ingested.
        assert totals[-1] < n_input / 2, (totals, n_input)
        # And state never tracks cumulative input: by the last batch,
        # (input so far - state held) rows must have been let go.
        assert totals[-1] < max(totals) + 1, totals
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """T2's contract observed directly: a row arriving BELOW the
    watermark established by an earlier batch is dropped from the
    windowed aggregation — not silently merged. Driven as two
    availableNow drains sharing one checkpoint (the watermark persists
    in the state store across restarts, exactly like a crash/resume)."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    schema = "event_id BIGINT, ts TIMESTAMP, value DOUBLE"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    def drain():
        out = []
        q = (
            spark.readStream.schema(schema).parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.outputMode("append")
            .foreachBatch(lambda bdf, _i: out.extend(
                (r["w"]["start"], r["n"]) for r in bdf.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return out

    t = dt.datetime(2024, 2, 1, 10, 0, 0)
    write_batch([(1, t, 1.0), (2, t.replace(minute=20), 1.0),
                 (3, t.replace(minute=40), 1.0)])
    first = drain()  # watermark advances to 10:40 - 1h = 09:40
    # batch 2: one LATE row (05:00 — far below the persisted watermark)
    # and one on-time row (11:30)
    write_batch([(4, dt.datetime(2024, 2, 1, 5, 0, 0), 1.0),
                 (5, dt.datetime(2024, 2, 1, 11, 30, 0), 1.0)])
    second = drain()
    # batch 3 advances the watermark to 13:00 so every earlier window
    # finalizes (append mode emits a window only once the watermark
    # passes its END — nothing above asserted emission yet)
    write_batch([(6, dt.datetime(2024, 2, 1, 14, 0, 0), 1.0)])
    third = drain()
    emitted = dict(first + second + third)
    # the 10:00 window holds exactly the 3 on-time rows; the late row's
    # 05:00 window was never emitted — the row is DROPPED
    assert emitted.get(dt.datetime(2024, 2, 1, 10, 0, 0)) == 3, emitted
    assert dt.datetime(2024, 2, 1, 5, 0, 0) not in emitted, emitted
