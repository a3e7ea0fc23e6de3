"""Z-order layout: the skipping claim measured on real parquet footers."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sigma_rx7_spark import staging
from sigma_rx7_spark.io import load
from sigma_rx7_spark.sources.layout import (
    N_ZFILES,
    morton_key,
    stage_zorder,
    zorder_skip_stats,
)


def test_morton_key_interleaves_bits(spark):
    # morton(a=0b11, b=0b10) = a bits at even positions, b at odd:
    # bit0=a0=1, bit1=b0=0, bit2=a1=1, bit3=b1=1 -> 0b1101 = 13
    df = spark.range(1).select(
        morton_key(F.lit(3), F.lit(2)).alias("z"),
        morton_key(F.lit(0xFFFF), F.lit(0)).alias("za"),
        morton_key(F.lit(0), F.lit(0xFFFF)).alias("zb"),
    )
    row = df.collect()[0]
    assert row.z == 13
    assert row.za == 0x55555555  # all even bit positions
    assert row.zb == 0xAAAAAAAA  # all odd bit positions


def test_zorder_prunes_both_dimensions(spark, sf_dir):
    zpath = stage_zorder(spark, sf_dir)

    # Counter-layout: the same data sorted on shipdate only.
    lpath = staging.path("linear_lineitem", sf_dir)
    if not os.path.exists(os.path.join(lpath, "_SUCCESS")):
        (load(spark, sf_dir, "lineitem")
         .select("l_partkey", "l_shipdate", "l_quantity",
                 "l_extendedprice", "l_returnflag")
         .repartitionByRange(N_ZFILES, "l_shipdate")
         .sortWithinPartitions("l_shipdate")
         .write.mode("overwrite").parquet(lpath))

    z_hit, z_total = zorder_skip_stats(zpath)
    l_hit, l_total = zorder_skip_stats(lpath)
    assert z_total == N_ZFILES and l_total == N_ZFILES

    # The probe is date-WIDE / partkey-NARROW: the linear layout can only
    # prune via dates (little), the z-order layout prunes via both.
    assert z_hit < l_hit, (z_hit, l_hit)
    assert z_hit <= z_total // 4, f"z-order pruned only {z_total-z_hit}"


def test_zorder_scan_pushes_both_predicates(spark, sf_dir):
    from sigma_rx7_spark.plans.inspect import formatted_plan
    from sigma_rx7_spark.registry import get
    p = formatted_plan(get("q_scan_zorder").fn(spark, sf_dir))
    assert "PushedFilters" in p
    assert "l_partkey" in p.split("PushedFilters")[1][:400]
    assert "l_shipdate" in p.split("PushedFilters")[1][:400]


def test_incremental_delta_prunes_like_base(spark, sf_dir):
    import os

    from sigma_rx7_spark.sources.layout import (
        N_DELTA_FILES,
        stage_zorder_incremental,
    )
    path = stage_zorder_incremental(spark, sf_dir)
    b_hit, b_total = zorder_skip_stats(os.path.join(path, "base"))
    d_hit, d_total = zorder_skip_stats(os.path.join(path, "delta"))
    assert b_total == N_ZFILES and d_total == N_DELTA_FILES
    # Both file sets sit on the same curve: the box prunes a majority
    # of files in each (the delta has coarser spans - fewer files over
    # the same key space - so its bound is proportionally looser).
    assert b_hit <= b_total // 4, (b_hit, b_total)
    assert d_hit <= d_total // 2, (d_hit, d_total)


def test_codec_choice_zstd_beats_snappy_and_roundtrips(spark, sf_dir):
    """Warehouse codec tuning, measured not asserted from folklore:
    the same clustered data written zstd vs snappy — zstd must be
    materially smaller (it is the capacity-tier default for cold data)
    and both must round-trip identical rows. At 100 TB the delta is
    directly storage cost; the trade is decode CPU, which is why the
    hot tier often stays snappy/lz4."""
    import os

    from pyspark.sql import functions as F

    from sigma_rx7_spark.io import load

    src = (load(spark, sf_dir, "lineitem")
           .select("l_orderkey", "l_partkey", "l_shipdate",
                   "l_extendedprice", "l_returnflag")
           .repartitionByRange(4, "l_orderkey")
           .sortWithinPartitions("l_orderkey"))
    sizes = {}
    for codec in ("snappy", "zstd"):
        path = staging.path(f"codec_{codec}", sf_dir)
        src.write.mode("overwrite") \
            .option("compression", codec).parquet(path)
        sizes[codec] = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path) if f.endswith(".parquet"))
    assert sizes["zstd"] < sizes["snappy"] * 0.9, sizes
    a = spark.read.parquet(staging.path("codec_snappy", sf_dir))
    b = spark.read.parquet(staging.path("codec_zstd", sf_dir))
    assert a.count() == b.count()
    assert a.exceptAll(b).limit(1).count() == 0


def test_index_planned_scan_opens_fewer_files(spark, sf_dir):
    import os

    from pyspark.sql import functions as F

    from sigma_rx7_spark.sources.layout import (
        _OK_HI,
        _OK_LO,
        stage_indexed_lineitem,
    )
    path = stage_indexed_lineitem(spark, sf_dir)
    idx = spark.read.parquet(os.path.join(path, "idx"))
    total = idx.count()
    chosen = idx.where((F.col("min_ok") <= _OK_HI)
                       & (F.col("max_ok") >= _OK_LO)).count()
    assert total == N_ZFILES
    # the band covers a contiguous clustered range: a small slice of
    # the file population
    assert chosen < total // 2, (chosen, total)
    assert chosen >= 1


def test_index_staging_memo_is_sf_keyed(spark, sf_dir):
    """Repeat staging for the SAME sf must be a no-op (``staging.stage``
    finds the completed staging), and a DIFFERENT sf must stage to its
    own path instead of overwriting — alternating scale factors in one
    process previously thrashed a single-slot memo."""
    import os

    from sigma_rx7_spark.sources.layout import stage_indexed_lineitem

    p1 = stage_indexed_lineitem(spark, sf_dir)
    marker = os.path.join(p1, "idx", "_SUCCESS")
    mtime = os.path.getmtime(marker)
    assert stage_indexed_lineitem(spark, sf_dir) == p1
    assert os.path.getmtime(marker) == mtime  # not re-written
    other = "/root/testdata/sf0.01"
    if os.path.isdir(other) and other != sf_dir:
        p2 = stage_indexed_lineitem(spark, other)
        assert p2 != p1
        # and returning to the first sf still does not re-stage
        assert stage_indexed_lineitem(spark, sf_dir) == p1
        assert os.path.getmtime(marker) == mtime


def test_staging_marker_discipline(tmp_path):
    """Round-6/7 contract: a completed staging (stamp + _SUCCESS) is
    detected and reused; a missing _SUCCESS, absent stamp, stamp from
    another layout, or an in-progress BUILDING sentinel all force a
    (re)build. No Spark needed — the guard is pure filesystem logic."""
    from sigma_rx7_spark.staging import (
        begin_staging,
        mark_staged,
        staging_ok,
    )

    p = str(tmp_path / "stage")
    import os

    os.makedirs(p)
    # empty dir: not complete
    assert not staging_ok(p, "1")
    # _SUCCESS without stamp: not complete (older code left it)
    open(os.path.join(p, "_SUCCESS"), "w").close()
    assert not staging_ok(p, "1")
    # stamp + _SUCCESS: complete for that stamp only
    mark_staged(p, "1")
    assert staging_ok(p, "1")
    assert not staging_ok(p, "2")          # version bump invalidates
    assert not staging_ok(p, "1:sf0.01")   # sf-qualified stamp differs
    # multi-subdir artifacts: every part needs its _SUCCESS
    os.makedirs(os.path.join(p, "cells"))
    os.makedirs(os.path.join(p, "centroids"))
    assert not staging_ok(p, "1", "cells", "centroids")
    open(os.path.join(p, "cells", "_SUCCESS"), "w").close()
    assert not staging_ok(p, "1", "cells", "centroids")
    open(os.path.join(p, "centroids", "_SUCCESS"), "w").close()
    assert staging_ok(p, "1", "cells", "centroids")
    # r6-advice mixed-version race: begin_staging's BUILDING sentinel
    # makes the mid-rebuild state incomplete to EVERY stamp — including
    # the one that was just valid — until mark_staged restores it.
    begin_staging(p)
    assert not staging_ok(p, "1", "cells", "centroids")
    assert not staging_ok(p, "BUILDING", "cells", "centroids")
    mark_staged(p, "2")
    assert staging_ok(p, "2", "cells", "centroids")
    # begin_staging also creates a missing parent dir
    q = str(tmp_path / "fresh")
    begin_staging(q)
    assert os.path.exists(os.path.join(q, "_layout_v.txt"))


@pytest.mark.parametrize("case", ["full_path_key", "trailing_slash",
                                  "stamp_follows_inputs",
                                  "no_rewrite_on_repeat"])
def test_staging_identity(case, tmp_path, monkeypatch):
    """The staging identity rule, one property per case: an artifact
    lives at ``staging.path(kind, sf_dir)`` keyed by the FULL sf path
    (two roots with one leaf name never share it; a trailing slash is
    the same root), and ``staging.stage`` rebuilds exactly when its
    code or a file of a declared input changes — in the same process
    too — and never otherwise. Pure filesystem: no Spark."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert staging.path("k") == os.path.join(repo, ".staging", "k")
    monkeypatch.setattr(staging, "_ROOT", str(tmp_path / "staging"))
    builds = []

    def build(path):
        builds.append(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    root = tmp_path / "a" / "sf0.01"
    root.mkdir(parents=True)
    lineitem = root / "lineitem.parquet"
    lineitem.write_bytes(b"v1")

    def run(sf_dir=str(root)):
        return staging.stage("k", sf_dir, build, inputs=("lineitem",))

    if case == "full_path_key":
        a = staging.path("k", "/a/sf0.01")
        assert a != staging.path("k", "/b/sf0.01")
        # the kind prefix keeps the leaf from reading as hidden to Spark
        assert os.path.basename(a).startswith("k_")
        other = tmp_path / "b" / "sf0.01"
        shutil.copytree(root, other)
        assert run() != run(str(other))
        assert len(builds) == 2
    elif case == "trailing_slash":
        assert (staging.path("k", "/a/sf0.01/")
                == staging.path("k", "/a/sf0.01"))
        assert run(str(root) + "/") == run()
        assert len(builds) == 1
    elif case == "stamp_follows_inputs":
        run()
        lineitem.write_bytes(b"v2-longer")
        run()
        assert len(builds) == 2
        # a directory-shaped table fingerprints its part files
        lineitem.unlink()
        lineitem.mkdir()
        (lineitem / "part-0.parquet").write_bytes(b"chunk")
        run()
        (lineitem / "part-0.parquet").write_bytes(b"chunk-2")
        run()
        assert len(builds) == 4
    elif case == "no_rewrite_on_repeat":
        marker = os.path.join(run(), "_SUCCESS")
        mtime = os.path.getmtime(marker)
        run()
        # a fresh process has only the on-disk marker to go by
        monkeypatch.setattr(staging, "_DONE", set())
        run()
        assert len(builds) == 1
        assert os.path.getmtime(marker) == mtime


def test_src_stamp_tracks_builder_source(tmp_path):
    """src_stamp derives the layout version from builder SOURCE: same
    builders → same stamp across calls/processes; different builder
    code or extra salt → different stamp (the automatic bump that
    replaced the hand-maintained integers, r6 advice)."""
    from sigma_rx7_spark.llm import similarity
    from sigma_rx7_spark.staging import src_stamp

    def builder_a():
        return 1

    def builder_b():
        return 2

    s1 = src_stamp(builder_a)
    assert s1 == src_stamp(builder_a)                  # deterministic
    assert s1 != src_stamp(builder_b)                  # code-sensitive
    assert s1 != src_stamp(builder_a, extra="dim=8")   # salt-sensitive
    assert s1 != src_stamp(builder_a, builder_b)       # set-sensitive
    assert len(s1) == 12 and s1 != "BUILDING"
    # modules hash too (the domain fixtures stamp hashes fixtures.py)
    assert src_stamp(similarity) == src_stamp(similarity)


# ---- Staged queries against rewritten and same-named sf roots ------------

def _writable_copy(src: str, dst) -> str:
    shutil.copytree(src, dst, copy_function=shutil.copyfile)
    os.chmod(dst, 0o755)
    return str(dst)


def _keep_rows(root: str, table: str, keep) -> None:
    """Rewrite ``table`` in place, keeping the rows ``keep(t)`` selects."""
    path = os.path.join(root, f"{table}.parquet")
    t = pq.read_table(path)
    pq.write_table(t.filter(keep(t)), path)


def _keep_even_keys(root: str, table: str, key: str) -> None:
    """Rewrite ``table`` in place, keeping the rows with an even key."""
    _keep_rows(root, table,
               lambda t: pc.equal(pc.bit_wise_and(t[key], 1), 0))


def _drop_stagings(root: str) -> None:
    import glob

    for p in glob.glob(staging.path("*", root)):
        shutil.rmtree(p, ignore_errors=True)


@pytest.mark.parametrize("name", [
    "q_scan_zorder", "q_scan_indexed", "q_mv_rollup_answer",
    "q_tpch_q15_materialized", "q_join_dpp", "q_sink_backfill",
    "q_source_textlines", "q_sim_topk_ivfpq", "q_sim_topk_ivf_staged",
    "q_sim_index_incremental"])
def test_staged_query_follows_inplace_input_rewrite(name, spark, sf_dir,
                                                    tmp_path):
    """Rewriting a staged query's inputs in place, inside one process,
    must rebuild the staged artifact and every memoized read of it: the
    second oracle check sees the new rows, not the artifact or the file
    listing of the old ones."""
    from tests.test_oracle_mirror import test_oracle_parity as parity

    root = _writable_copy(sf_dir, tmp_path / "sf")
    try:
        parity(name, spark, root)
        for table, key in (("lineitem", "l_orderkey"), ("events", "event_id"),
                           ("part", "p_partkey"), ("documents", "doc_id")):
            _keep_even_keys(root, table, key)
        # Not even keys: those would drop every IVF seed
        # (c_id % stride == 5) and leave no cell to probe.
        _keep_rows(root, "embeddings",
                   lambda t: pa.array(t["vec_id"].to_numpy() % 3 != 2))
        parity(name, spark, root)
    finally:
        _drop_stagings(root)


def test_stream_reads_directory_shaped_table(spark, sf_dir, tmp_path):
    """A table stored as a directory of part files streams the same rows
    as the exact file: the stream source resolves the file set the way
    the batch read does. The DuckDB oracle cannot read a directory
    path, so the Spark result at ``sf_dir`` is the reference."""
    from sigma_rx7_spark.registry import load_all

    fn = load_all()["q_stream_ingest_dedup"].fn
    root = _writable_copy(sf_dir, tmp_path / "sf")
    path = os.path.join(root, "documents.parquet")
    t = pq.read_table(path)
    os.remove(path)
    os.mkdir(path)
    step = -(-t.num_rows // 3)
    for i in range(3):
        pq.write_table(t.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    want = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert want
    assert sorted(tuple(r) for r in fn(spark, root).collect()) == want


def test_join_bucketed_same_basename_roots(spark, sf_dir, tmp_path):
    """Two sf roots with the same leaf name stage separate bucketed
    tables: a second root holding half of lineitem must match the
    oracle over ITS rows, not reuse the first root's tables."""
    from tests.test_oracle_mirror import test_oracle_parity as parity

    parity("q_join_bucketed", spark, sf_dir)
    root = _writable_copy(
        sf_dir, tmp_path / os.path.basename(sf_dir.rstrip("/")))
    try:
        _keep_even_keys(root, "lineitem", "l_orderkey")
        parity("q_join_bucketed", spark, root)
    finally:
        key = staging.sf_key(root)
        for t in (f"bkt_lineitem_{key}", f"bkt_orders_{key}"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        _drop_stagings(root)
