"""Round-9 regression tests for the round-8 advisor findings.

1. ``arrowpq`` Python DataSource: a partitionBy-written staging
   (key=value/ subdirectories) must be served, not silently treated as
   an empty relation; a non-empty directory with no parquet anywhere
   under it must raise, reserving the empty sentinel for genuinely
   empty stagings.
2. ``q_drift_ks``: when every event lands on one side of the cutoff
   the KS denominator is zero — the statistic must come back NULL on
   both engines, never an ANSI division error (the q_ab_mannwhitney
   posture).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _load_docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def test_arrowpq_serves_partitioned_staging(spark, sf_dir, tmp_path):
    from sigma_rx7_spark.sources.pydatasource import (_DS_NAME,
                                                      register_arrowpq)

    register_arrowpq(spark)
    docs = _load_docs(spark, sf_dir).select(
        "doc_id", "lang", "source", "n_chars",
        (F.col("doc_id") % 3).alias("part"))
    staged = str(tmp_path / "docs_partitioned")
    docs.write.partitionBy("part").parquet(staged)

    served = (spark.read.format(_DS_NAME).option("path", staged).load())
    assert served.count() == docs.count()
    # A full-fidelity check, not just cardinality: same per-lang sums.
    got = {r["lang"]: r["s"] for r in served.groupBy("lang")
           .agg(F.sum("n_chars").alias("s")).collect()}
    want = {r["lang"]: r["s"] for r in docs.groupBy("lang")
            .agg(F.sum("n_chars").alias("s")).collect()}
    assert got == want


def test_arrowpq_rejects_parquetless_directory(spark, tmp_path):
    from sigma_rx7_spark.sources.pydatasource import (_DS_NAME,
                                                      register_arrowpq)

    register_arrowpq(spark)
    bogus = tmp_path / "not_a_table"
    bogus.mkdir()
    (bogus / "data.csv").write_text("doc_id\n1\n")
    df = spark.read.format(_DS_NAME).option("path", str(bogus)).load()
    with pytest.raises(Exception, match="no .*parquet"):
        df.count()


def test_arrowpq_empty_staging_still_serves_empty(spark, tmp_path):
    from sigma_rx7_spark.sources.pydatasource import (_DS_NAME,
                                                      register_arrowpq)

    register_arrowpq(spark)
    empty = tmp_path / "empty_table"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    df = spark.read.format(_DS_NAME).option("path", str(empty)).load()
    assert df.count() == 0


def test_mixed_sf_ivf_staging_no_clobber(spark, sf_dir):
    """The r8 judge's cross-sf race, reproduced: a second session
    mirroring a DIFFERENT scale factor must not restage (clobber) the
    first session's oracle-centroid artifact. With sf-keyed paths the
    two stagings are disjoint: running sf0.01 after sf0.001 leaves the
    sf0.001 files byte-identical, and the sf0.001 oracle still reads
    its own (untouched) centroids."""
    import duckdb

    from sigma_rx7_spark import registry, staging
    from sigma_rx7_spark.io import TABLES

    spec = registry.load_all()["q_sim_topk_ivf"]
    other_sf = ("/root/testdata/sf0.01"
                if sf_dir.rstrip("/").endswith("sf0.001")
                else "/root/testdata/sf0.001")

    spec.fn(spark, sf_dir).collect()
    mine = staging.path("ivf_centroids", sf_dir)
    before = {f: os.path.getmtime(os.path.join(mine, f))
              for f in os.listdir(mine)}

    # the "other session": same query, different scale factor
    spec.fn(spark, other_sf).collect()
    theirs = staging.path("ivf_centroids", other_sf)
    assert theirs != mine and os.path.exists(
        os.path.join(theirs, "_SUCCESS"))
    after = {f: os.path.getmtime(os.path.join(mine, f))
             for f in os.listdir(mine)}
    assert after == before, "cross-sf run modified this sf's staging"

    # and this sf's oracle pair still agrees end to end
    sdf = spec.fn(spark, sf_dir)
    cols = sorted(sdf.columns)
    srows = sorted(tuple(round(v, 6) if isinstance(v, float) else v
                         for v in (r[c] for c in cols))
                   for r in sdf.collect())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    orows = sorted(tuple(round(v, 6) if isinstance(v, float) else v
                         for v in t_)
                   for t_ in con.execute(spec.oracle_for(sf_dir))
                   .df()[cols].itertuples(index=False))
    con.close()
    assert srows == orows


def test_drift_ks_degenerate_one_sided_is_null(spark, sf_dir, tmp_path):
    from sigma_rx7_spark.operators.quality import _KS_CUTOFF, q_drift_ks

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    one_sided = ev.filter(
        F.col("ts") < F.lit(_KS_CUTOFF).cast("timestamp"))
    assert one_sided.count() > 0, "fixture: need events before the cutoff"
    fake_sf = str(tmp_path / "sf_one_sided")
    os.makedirs(fake_sf)
    one_sided.write.parquet(os.path.join(fake_sf, "events.parquet"))

    row = q_drift_ks(spark, fake_sf).collect()[0]
    assert row["n_b"] == 0
    assert row["ks_d"] is None and row["ks_stat"] is None
