"""Exactly-once restart of a checkpointed file-source stream.

The checkpoint must make a restarted stream process only the files that
arrived while it was down — that property is what lets a 100 TB
streaming stage crash and resume without reprocessing history.
"""

from __future__ import annotations


def test_checkpoint_restart_processes_only_new_files(spark, sf_dir, tmp_path):
    """Exactly-once across restarts: a file-source stream with a
    checkpoint, drained with availableNow, then STOPPED; new data
    lands; a fresh query on the SAME checkpoint must process ONLY the
    new file — the crash/resume contract that makes streaming jobs
    restartable at scale without reprocessing history (the file-source
    offset log records which files are committed)."""
    from pyspark.sql import functions as F

    from sigma_rx7_spark.io import load as load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")
    n_total = ev.count()
    half = ev.where(F.col("event_id") % 2 == 0)
    rest = ev.where(F.col("event_id") % 2 == 1)
    n1, n2 = half.count(), rest.count()
    assert n1 + n2 == n_total

    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    half.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    seen: list[int] = []

    def run_once() -> None:
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(
                lambda bdf, _i: seen.append(bdf.count()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert sum(seen) == n1, seen
    # new file arrives while the stream is DOWN
    rest.coalesce(1).write.mode("append").parquet(src)
    run_once()
    # the restarted query saw only the new file's rows — no reprocessing
    assert sum(seen) == n1 + n2, seen
