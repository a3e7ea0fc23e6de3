"""Multi-dimensional data layout: Z-order (Morton) clustering for scan
skipping (SURVEY.md §2.1 sink family; reference README.md:8's nightly
warehouse refresh is where layout is chosen).

WHY at 100 TB: parquet scans skip row groups whose column min/max stats
miss the predicate. A table sorted on ONE column prunes perfectly on that
column and not at all on any other — every row group spans the full range
of the second dimension. Interleaving the bits of two bucketed sort keys
(the Morton / Z-order curve) makes every written file a tight HYPER-
RECTANGLE in both dimensions, so a two-sided box predicate prunes on both
— the layout trick behind Delta/Iceberg ``OPTIMIZE ZORDER BY``, built
here from pure Catalyst expressions: no UDF, no shuffle beyond the one
``repartitionByRange`` the rewrite itself is.

The morton key is computed with the standard mask-and-shift bit spread
(5 native expressions per dimension), range-partitioned so each output
file owns a contiguous morton span, and dropped before write — the
layout survives in the FILE BOUNDARIES, not as a stored column.

``tests/test_layout.py`` measures real skipping with pyarrow footer
stats: the same box predicate overlaps a small fraction of z-ordered
files but nearly all linearly-sorted ones.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import staging
from ..compat import dsum, o_dsum
from ..io import load, read_staged
from ..registry import query

N_ZFILES = 32  # output files == morton range buckets (1 row group each
               # at test sf; at 100 TB scale this is files-per-job, and
               # row-group stats inside each file prune the same way)


def _spread16(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` to even bit positions 0,2,..,30.

    The classic binary-magic-number dilation: each step doubles the gap
    between surviving bit fields. All plain integer arithmetic -> stays
    inside whole-stage codegen.
    """
    x = c.cast("bigint").bitwiseAND(F.lit(0xFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x


def morton_key(a: Column, b: Column) -> Column:
    """Interleave two 16-bit bucket ids into one 32-bit Z-order key."""
    return _spread16(a).bitwiseOR(F.shiftleft(_spread16(b), 1))


# Both dimensions are scaled into EQUAL-WIDTH 8-bit buckets before
# interleaving — with raw values the wider dimension would own all the
# high morton bits and the curve would degenerate to a single-column
# sort at file granularity (measured: 9/32 vs 11/32 files pruned on the
# raw-value variant). The per-dimension bounds come from one 4-scalar
# aggregate over the input — the same bounded-metadata pass a real
# ``OPTIMIZE ZORDER BY`` spends computing file boundaries. Folding
# (pmod) is deliberately NOT used: a folded key wraps distant values
# into one bucket, so written files would carry full-range raw stats
# and footer pruning would die at any sf where keys exceed the fold.
_EPOCH = "1992-01-01"
_ZBITS = 8  # buckets per dimension; 8+8 interleaved -> 16-bit morton


def _bucket(c: Column, lo: int, hi: int) -> Column:
    span = max(hi - lo + 1, 1)
    b = F.floor((c - F.lit(lo)).cast("bigint") * (1 << _ZBITS) / span)
    return F.least(F.greatest(b, F.lit(0)), F.lit((1 << _ZBITS) - 1))


def zorder_lineitem(df: DataFrame, n_files: int = N_ZFILES,
                    bounds: tuple[int, int, int, int] | None = None,
                    ) -> DataFrame:
    """Attach the morton key and range-cluster into ``n_files`` spans.

    ``bounds`` = (day_lo, day_hi, pk_lo, pk_hi); when None they are
    computed from ``df`` (one 4-scalar agg). Incremental appends MUST
    pass the bounds persisted at base-build time: re-deriving them from
    a delta batch would shift every bucket boundary, putting delta
    files on a different curve than the base they sit next to.
    """
    day = F.datediff(F.col("l_shipdate"), F.to_date(F.lit(_EPOCH)))
    src = df.select("l_partkey", "l_shipdate", "l_quantity",
                    "l_extendedprice", "l_returnflag",
                    day.alias("_day"))
    if bounds is None:
        lo_d, hi_d, lo_p, hi_p = src.agg(
            F.min("_day"), F.max("_day"),
            F.min("l_partkey"), F.max("l_partkey")).collect()[0]
        if lo_d is None:  # empty relation: degenerate curve, zero rows
            lo_d = hi_d = lo_p = hi_p = 0
    else:
        lo_d, hi_d, lo_p, hi_p = bounds
    zkey = morton_key(
        _bucket(F.col("_day"), lo_d, hi_d),
        _bucket(F.col("l_partkey"), lo_p, hi_p),
    ).alias("_zkey")
    return (
        src.select("l_partkey", "l_shipdate", "l_quantity",
                   "l_extendedprice", "l_returnflag", zkey)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )


def lineitem_bounds(df: DataFrame) -> tuple[int, int, int, int]:
    day = F.datediff(F.col("l_shipdate"), F.to_date(F.lit(_EPOCH)))
    lo_d, hi_d, lo_p, hi_p = df.agg(
        F.min(day), F.max(day),
        F.min("l_partkey"), F.max("l_partkey")).collect()[0]
    if lo_d is None:  # empty relation: degenerate curve, zero rows
        return 0, 0, 0, 0
    return int(lo_d), int(hi_d), int(lo_p), int(hi_p)


def stage_zorder(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> None:
        zorder_lineitem(load(spark, sf_dir, "lineitem")) \
            .write.mode("overwrite").parquet(path)
    return staging.stage("zorder_lineitem", sf_dir, build,
                         code=(zorder_lineitem,), inputs=("lineitem",))


# The probe predicate: WIDE on dates (2 of the corpus's ~7 years),
# NARROW on partkey (a 32-key slice valid at every sf: partkey counts
# scale with sf but always start at 0) — the shape where single-column
# date sorting prunes nothing and z-order prunes almost everything.
_D_LO, _D_HI = "1996-01-01", "1997-12-31"
_PK_LO, _PK_HI = 16, 47


@query(
    "q_scan_zorder",
    oracle=f"""
    SELECT
      l_returnflag,
      COUNT(*) AS n_items,
      {o_dsum('l_extendedprice', 'sum_price')}
    FROM lineitem
    WHERE l_shipdate BETWEEN DATE '{_D_LO}' AND DATE '{_D_HI}'
      AND l_partkey BETWEEN {_PK_LO} AND {_PK_HI}
    GROUP BY l_returnflag
    """,
    tags=("S8", "layout", "zorder"),
)
def q_scan_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional box scan over the Z-ORDERED lineitem copy: both
    range predicates reach the parquet reader as pushed filters, and
    because every staged file is a tight morton hyper-rectangle, the
    partkey predicate skips the files the date predicate can't
    (skip-fraction asserted against real footer stats in
    tests/test_layout.py). The oracle runs the same box on the ORIGINAL
    parquet — the rewrite is pure layout, so any row lost or duplicated
    by the clustering pass fails the hash gate."""
    path = stage_zorder(spark, sf_dir)
    df = read_staged(
        spark, path,
        "l_partkey bigint, l_shipdate timestamp, l_quantity double, "
        "l_extendedprice double, l_returnflag string")
    return (
        df.where(
            F.col("l_shipdate").between(_D_LO, _D_HI)
            & F.col("l_partkey").between(_PK_LO, _PK_HI))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_items"),
             dsum("l_extendedprice", "sum_price"))
    )


def zorder_skip_stats(path: str,
                      d_lo: str = _D_LO, d_hi: str = _D_HI,
                      pk_lo: int = _PK_LO, pk_hi: int = _PK_HI,
                      ) -> tuple[int, int]:
    """(files overlapping the box, total files) from parquet footers.

    Reads ONLY metadata — this is exactly the min/max evaluation the
    scan's row-group skipping performs, measured instead of asserted
    from prose.
    """
    import datetime

    import pyarrow.parquet as pq

    # l_shipdate ships as a timestamp; footer stats come back as
    # datetimes, so compare in datetime space (upper bound = end of day).
    lo = datetime.datetime.fromisoformat(d_lo)
    hi = datetime.datetime.fromisoformat(d_hi) + datetime.timedelta(days=1)
    files = [os.path.join(path, f) for f in os.listdir(path)
             if f.endswith(".parquet")]
    overlap = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        i_pk, i_sd = names.index("l_partkey"), names.index("l_shipdate")
        hit = False
        for rg in range(md.num_row_groups):
            s_pk = md.row_group(rg).column(i_pk).statistics
            s_sd = md.row_group(rg).column(i_sd).statistics
            if (s_pk.min <= pk_hi and s_pk.max >= pk_lo
                    and s_sd.min <= hi and s_sd.max >= lo):
                hit = True
                break
        overlap += int(hit)
    return overlap, len(files)


# ---- Incremental layout maintenance --------------------------------------

N_DELTA_FILES = 8  # clustered files per appended batch


def stage_zorder_incremental(spark: SparkSession, sf_dir: str) -> str:
    """Base (90% of lineitem) z-ordered once; a later 10% ingest batch
    appended as its own z-ordered file set UNDER THE BASE'S persisted
    bucket bounds (json sidecar) — the maintenance move that keeps
    every appended file a tight hyper-rectangle on the SAME curve
    without rewriting the table. Compaction (q_sink_compaction's job)
    later folds delta spans into base spans; until then a scan reads
    base+delta and both prune identically."""
    import json

    def build(path: str) -> None:
        li = load(spark, sf_dir, "lineitem")
        base = li.where(F.pmod(F.col("l_orderkey"), F.lit(10)) != 0)
        delta = li.where(F.pmod(F.col("l_orderkey"), F.lit(10)) == 0)
        bounds = lineitem_bounds(base)
        zorder_lineitem(base, N_ZFILES, bounds) \
            .write.mode("overwrite").parquet(os.path.join(path, "base"))
        # The append: delta rows clustered under the PERSISTED bounds.
        zorder_lineitem(delta, N_DELTA_FILES, bounds) \
            .write.mode("overwrite").parquet(os.path.join(path, "delta"))
        with open(os.path.join(path, "_bounds.json"), "w") as fh:
            json.dump(bounds, fh)

    return staging.stage("zorderinc_lineitem", sf_dir, build,
                         code=(zorder_lineitem, lineitem_bounds),
                         inputs=("lineitem",), parts=("base", "delta"))


@query(
    "q_scan_zorder_incremental",
    oracle=f"""
    SELECT
      l_returnflag,
      COUNT(*) AS n_items,
      {o_dsum('l_extendedprice', 'sum_price')}
    FROM lineitem
    WHERE l_shipdate BETWEEN DATE '{_D_LO}' AND DATE '{_D_HI}'
      AND l_partkey BETWEEN {_PK_LO} AND {_PK_HI}
    GROUP BY l_returnflag
    """,
    tags=("S8", "layout", "zorder", "incremental"),
)
def q_scan_zorder_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-D box scan over base+delta of the INCREMENTALLY maintained
    z-ordered table (see stage_zorder_incremental): the union of the
    two clustered file sets must return exactly what one scan of the
    original table returns — appends lose no rows, duplicate none, and
    (asserted in tests/test_layout.py) delta files prune by footer
    stats just like base files because they share the persisted bucket
    bounds."""
    path = stage_zorder_incremental(spark, sf_dir)
    zschema = ("l_partkey bigint, l_shipdate timestamp, l_quantity double, "
               "l_extendedprice double, l_returnflag string")
    df = (read_staged(spark, os.path.join(path, "base"), zschema)
          .unionByName(
              read_staged(spark, os.path.join(path, "delta"), zschema)))
    return (
        df.where(
            F.col("l_shipdate").between(_D_LO, _D_HI)
            & F.col("l_partkey").between(_PK_LO, _PK_HI))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_items"),
             dsum("l_extendedprice", "sum_price"))
    )


# ---- Min/max file index (metadata-table data skipping) -------------------

_OK_LO, _OK_HI = 1000, 2999  # orderkey probe band (valid at every sf)


def stage_indexed_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Range-clustered lineitem + a PERSISTED min/max file index.

    The index is built distributed — ``input_file_name()`` as a
    grouping column — and stored as a tiny parquet table (one row per
    file: min/max orderkey, rows). This is the poor-man's Iceberg
    manifest: scan planning reads the INDEX, not footers, so skipping
    survives object stores where listing+footer reads are the
    bottleneck at 10⁶ files."""
    def build(path: str) -> None:
        data_dir = os.path.join(path, "data")
        (load(spark, sf_dir, "lineitem")
         .select("l_orderkey", "l_quantity", "l_returnflag")
         .repartitionByRange(N_ZFILES, "l_orderkey")
         .sortWithinPartitions("l_orderkey")
         .write.mode("overwrite").parquet(data_dir))
        (read_staged(spark, data_dir,
                     "l_orderkey bigint, l_quantity double, "
                     "l_returnflag string")
         .groupBy(F.input_file_name().alias("file"))
         .agg(F.min("l_orderkey").alias("min_ok"),
              F.max("l_orderkey").alias("max_ok"),
              F.count(F.lit(1)).alias("n_rows"))
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(path, "idx")))

    return staging.stage("idx_lineitem", sf_dir, build,
                         inputs=("lineitem",), parts=("data", "idx"))


@query(
    "q_scan_indexed",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {o_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    WHERE l_orderkey BETWEEN {_OK_LO} AND {_OK_HI}
    GROUP BY l_returnflag
    """,
    tags=("S1", "layout", "index"),
)
def q_scan_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-PLANNED SCAN: the file list for an orderkey range comes
    from the persisted min/max index table (bounded metadata collect —
    the IVF-probe pattern), and the reader opens ONLY those files,
    with the residual predicate still pushed for row-group skipping
    inside them. The oracle runs the same band on the original table:
    equality proves index-planned scans lose nothing. File-count
    reduction is asserted on the real reader in tests/test_layout.py.
    At 100 TB the index is the manifest read (KBs) that replaces
    listing + footer-probing a million files."""
    import os

    path = stage_indexed_lineitem(spark, sf_dir)
    dschema = "l_orderkey bigint, l_quantity double, l_returnflag string"
    idx = read_staged(spark, os.path.join(path, "idx"),
                      "file string, min_ok bigint, max_ok bigint, "
                      "n_rows bigint")
    files = [r.file for r in
             idx.where((F.col("min_ok") <= _OK_HI)
                       & (F.col("max_ok") >= _OK_LO)).collect()]
    if not files:  # index says no file can match: empty, typed result
        df = spark.createDataFrame([], dschema)
    else:
        df = spark.read.schema(dschema).parquet(*files)
    return (
        df.where(F.col("l_orderkey").between(_OK_LO, _OK_HI))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_items"),
             dsum("l_quantity", "sum_qty"))
    )
