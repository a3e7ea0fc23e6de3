"""File-format sources beyond parquet (SURVEY.md §2.1 S3/S4/S5).

The reference ingests flat enrichment files ("drug classes, Orange Book
brand/generic links and public pricing/formulary data", reference
README.md:8 — CSV/TSV-shaped open data) and nested FHIR JSON (README.md:3,
76). Spark-first, those are ``spark.read.csv`` / ``spark.read.json`` with
EXPLICIT schemas — never inference, which at 100 TB would mean an extra
full pass over the data and silently drifting types.

The two registered queries prove the loaders end-to-end: stage a harness
table out to the format, read it back through the typed loader, aggregate,
and hash-match the DuckDB oracle computed on the ORIGINAL parquet — so any
loss or type drift in the format round-trip fails the gate. (Doubles
survive because both writers emit shortest-roundtrip decimal strings.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import staging
from ..compat import dsum, o_dsum
from ..io import load, read_staged
from ..registry import query

def read_csv(spark: SparkSession, path: str, schema: T.StructType,
             header: bool = True, sep: str = ",") -> DataFrame:
    """Typed CSV reader (S5 open-data enrichment shape): explicit schema,
    malformed rows fail loudly (FAILFAST) instead of nulling out."""
    return (spark.read.schema(schema)
            .option("header", header).option("sep", sep)
            .option("mode", "FAILFAST").csv(path))


def read_json(spark: SparkSession, path: str,
              schema: T.StructType) -> DataFrame:
    """Typed JSON-lines reader (S4 FHIR-bundle shape)."""
    return (spark.read.schema(schema)
            .option("mode", "FAILFAST").json(path))


CSV_ORDERS_SCHEMA = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_orderstatus", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    T.StructField("o_orderpriority", T.StringType()),
])

JSON_EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


@query(
    "q_source_csv",
    oracle=f"""
    SELECT
      o_orderstatus,
      COUNT(*) AS n_orders,
      {o_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("S5", "source-csv"),
)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip: stage orders to CSV, re-read through the typed
    loader, aggregate. The oracle runs on the ORIGINAL parquet, so the
    hash match proves the CSV path is lossless for keys, categoricals,
    and doubles."""
    path = staging.path("csv_orders", sf_dir)
    (load(spark, sf_dir, "orders")
     .select(*[f.name for f in CSV_ORDERS_SCHEMA.fields])
     .write.mode("overwrite").option("header", True).csv(path))
    staged = read_csv(spark, path, CSV_ORDERS_SCHEMA)
    return staged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "sum_price"),
    )


@query(
    "q_source_json",
    oracle=f"""
    SELECT
      event_type,
      COUNT(*) AS n_events,
      COUNT(DISTINCT user_id) AS n_users,
      {o_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
    tags=("S4", "source-json"),
)
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip: stage events to JSON, re-read through the
    typed loader, aggregate. Same lossless-round-trip proof as
    q_source_csv, for the nested-ingest (FHIR, README.md:3,76) format
    family."""
    path = staging.path("json_events", sf_dir)
    (load(spark, sf_dir, "events")
     .select(*[f.name for f in JSON_EVENTS_SCHEMA.fields])
     .write.mode("overwrite").json(path))
    staged = read_json(spark, path, JSON_EVENTS_SCHEMA)
    return staged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value", "sum_value"),
    )


@query(
    "q_sink_partitioned",
    oracle=f"""
    SELECT
      user_id,
      COUNT(*) AS n_events,
      {o_dsum('value', 'sum_value')}
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
    tags=("S8", "sink-partitioned"),
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + pruned re-read (S8): stage events
    partitioned by event_type, then aggregate ONE partition. The filter
    on the partition column prunes directories at plan time (asserted in
    tests/test_plans.py) — at 100 TB this is the difference between
    scanning one event type and scanning the fleet's full history. The
    oracle aggregates the original parquet, proving the partitioned
    round-trip is lossless."""
    path = staging.path("part_events", sf_dir)
    slim = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type")
    slim.write.mode("overwrite").partitionBy("event_type").parquet(path)
    staged = read_staged(spark, path, slim.schema)
    return (
        staged.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum("value", "sum_value"))
    )


@query(
    "q_source_orc",
    oracle=f"""
    SELECT
      l_returnflag,
      COUNT(*) AS n_items,
      {o_dsum('l_extendedprice', 'sum_price')},
      -- l_quantity is integral-valued DOUBLE: the sum is exact at any
      -- aggregation order, and both engines keep it DOUBLE
      SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("S5", "source-orc"),
)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: stage lineitem columns to ORC (Spark-native
    columnar alternative to parquet — the warehouse interchange format a
    Hive-era deployment would hand us), re-read, aggregate. The oracle
    runs on the ORIGINAL parquet, so the hash match proves the ORC path
    preserves ints, categoricals, and doubles bit-for-bit. ORC reads get
    the same vectorized scan + predicate pushdown treatment as parquet
    in Spark, so the S-family scan posture carries over unchanged."""
    path = staging.path("orc_lineitem", sf_dir)
    (load(spark, sf_dir, "lineitem")
     .select("l_returnflag", "l_extendedprice", "l_quantity")
     .write.mode("overwrite").orc(path))
    staged = spark.read.orc(path)
    return staged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice", "sum_price"),
        F.sum("l_quantity").alias("sum_qty"),
    )


N_BUCKETS = 8  # bucket count for the co-located join layout


def stage_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage lineitem + orders as BUCKETED tables on the join key.

    ``bucketBy(N, key)`` is Spark's persisted hash-partitioning: every
    writer task routes rows to bucket files by ``hash(key) % N``, and a
    later join between two tables bucketed on the same key with the same
    N needs NO shuffle on either side — the layout IS the exchange,
    amortized across every join that reuses it. This is the 100 TB
    answer to "the fact⋈fact join shuffles both sides every night".
    Table names carry the sf key of ``staging.path``, so two roots never
    share a table; re-staging is idempotent (overwrite).
    """
    from ..io import write_bucketed

    key = staging.sf_key(sf_dir)
    li_tbl, ord_tbl = f"bkt_lineitem_{key}", f"bkt_orders_{key}"
    if not spark.catalog.tableExists(li_tbl):
        write_bucketed(
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_quantity", "l_extendedprice")
            .repartition(N_BUCKETS, "l_orderkey"),
            li_tbl, "l_orderkey", N_BUCKETS,
            path=staging.path("bkt_lineitem", sf_dir))
    if not spark.catalog.tableExists(ord_tbl):
        write_bucketed(
            load(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .repartition(N_BUCKETS, "o_orderkey"),
            ord_tbl, "o_orderkey", N_BUCKETS,
            path=staging.path("bkt_orders", sf_dir))
    return li_tbl, ord_tbl


@query(
    "q_join_bucketed",
    oracle=f"""
    SELECT
      o_orderpriority,
      COUNT(*) AS n_items,
      {o_dsum('l_extendedprice', 'sum_price')}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("S8", "J2", "bucketed"),
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located fact⋈fact join over BUCKETED staging:
    both sides persisted ``bucketBy({N_BUCKETS}, orderkey)``, so the
    sort-merge join consumes bucket files directly — zero Exchange on
    either join input (asserted on the real plan in tests/test_plans.py).
    The ``merge`` hint pins SMJ so the demo proves the bucket layout,
    not the broadcast fallback a small sf would otherwise take. The
    oracle joins the ORIGINAL parquet, proving the bucketed layout is
    lossless."""
    li_tbl, ord_tbl = stage_bucketed_tables(spark, sf_dir)
    li = spark.table(li_tbl).hint("merge")
    o = spark.table(ord_tbl)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"),
             dsum("l_extendedprice", "sum_price"))
    )


# Tiny status dimension joined on the fact's PARTITION column — the DPP
# demo relation. Inline literals: both engines embed the same rows.
_FLAG_DIM = (("A", "acknowledged"), ("N", "new"), ("R", "returned"))


@query(
    "q_join_dpp",
    oracle=f"""
    SELECT
      l_linestatus,
      COUNT(*) AS n_items,
      {o_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    JOIN (VALUES {', '.join(repr(t) for t in _FLAG_DIM)})
         dim(flag, flag_desc)
      ON l_returnflag = dim.flag
    WHERE dim.flag_desc = 'returned'
    GROUP BY l_linestatus
    """,
    tags=("S8", "J1", "dpp"),
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact is staged partitioned by
    l_returnflag, and the only filter lives on the joined dimension —
    static pruning sees nothing, yet Spark builds the broadcast result
    first and prunes fact partitions at RUNTIME from the dim's surviving
    join keys (the `dynamicpruning` subquery in the scan's
    PartitionFilters, asserted in tests/test_plans.py). At 100 TB this
    is what keeps "join facts to the dimension row the user picked" from
    scanning every date/status partition of the fact table. Oracle: the
    same join over the original un-partitioned parquet."""
    slim = load(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_linestatus", "l_returnflag")

    def build(path: str) -> None:
        slim.write.mode("overwrite").partitionBy("l_returnflag") \
            .parquet(path)
    path = staging.stage("dpp_lineitem", sf_dir, build,
                         inputs=("lineitem",))
    fact = read_staged(spark, path, slim.schema)
    dim = spark.createDataFrame(list(_FLAG_DIM), "flag string, "
                                "flag_desc string")
    return (
        fact.join(F.broadcast(dim), fact.l_returnflag == dim.flag)
        .where(F.col("flag_desc") == "returned")
        .groupBy("l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_items"),
             dsum("l_quantity", "sum_qty"))
    )


def _schema_dirs(sf_dir: str) -> tuple[str, str]:
    root = staging.path("schema_events", sf_dir)
    return os.path.join(root, "v1"), os.path.join(root, "v2")


def _schema_merge_oracle(sf_dir: str) -> str:
    b1, b2 = _schema_dirs(sf_dir)
    return f"""
    SELECT COALESCE(event_type, 'pre-upgrade') AS event_type,
           COUNT(*) AS n_events,
           {o_dsum('value', 'sum_value')}
    FROM read_parquet(
      ['{b1}/*.parquet', '{b2}/*.parquet'],
      union_by_name = true)
    GROUP BY 1
    """


@query(
    "q_source_schema_merge",
    oracle=_schema_merge_oracle,
    tags=("S10", "schema-evolution"),
)
def q_source_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION across staged batches: batch 1 was written
    before the pipeline tracked ``event_type`` (3 columns), batch 2
    after (4 columns) — the drift every long-lived warehouse table
    accumulates. ``mergeSchema`` reconciles the footers into one
    DataFrame (missing columns read as NULL) and the aggregate labels
    pre-upgrade rows explicitly. The oracle reads the same two batch
    dirs with ``union_by_name``, so the gate proves Spark's merged
    schema semantics equal the engine-independent union-by-name
    semantics, values included.

    Scale note: mergeSchema reads EVERY file footer at planning time —
    fine per-batch, pathological over 10⁶ files; at warehouse scale the
    merged schema belongs in a table catalog (Delta/Iceberg metadata),
    which is this same operation amortized into the commit protocol."""
    def build(path: str) -> None:
        ev = load(spark, sf_dir, "events")
        cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
        (ev.where(F.col("ts") < cutoff)
         .select("event_id", "user_id", "value")
         .write.mode("overwrite").parquet(os.path.join(path, "v1")))
        (ev.where(F.col("ts") >= cutoff)
         .select("event_id", "user_id", "value", "event_type")
         .write.mode("overwrite").parquet(os.path.join(path, "v2")))
    staging.stage("schema_events", sf_dir, build, inputs=("events",),
                  parts=("v1", "v2"))
    b1, b2 = _schema_dirs(sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(b1, b2)
    return (
        merged.select(
            F.coalesce("event_type", F.lit("pre-upgrade"))
            .alias("event_type"), "value")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum("value", "sum_value"))
    )


COMPACT_SMALL_FILES = 64
COMPACT_TARGET_FILES = 4


@query(
    "q_sink_compaction",
    oracle=f"""
    SELECT
      event_type,
      COUNT(*) AS n_events,
      {o_dsum('value', 'sum_value')},
      COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    tags=("S16", "compaction", "maintenance"),
)
def q_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION (the warehouse maintenance job): stage the
    event stream as {COMPACT_SMALL_FILES} small parquet files (what
    per-minute streaming micro-batches leave behind), then compact to
    {COMPACT_TARGET_FILES} range-clustered files via
    ``repartitionByRange(user_id, ts)`` + rewrite, and aggregate the
    compacted table. The oracle aggregates the ORIGINAL events, so a
    green row proves the rewrite is lossless; the file-count collapse
    itself is asserted in tests/test_plans.py.

    Why it matters at 100 TB: a streaming sink writing every minute
    produces ~500k files/year/table — listing alone stalls planning,
    and row-group-per-file kills scan efficiency. Compaction is the
    periodic job every real lake runs (Delta OPTIMIZE / Iceberg
    rewrite_data_files); range-clustering by the hot filter/join column
    while rewriting makes the files min/max-prunable on user_id for
    free — layout work piggybacking on IO that must happen anyway."""
    path_small = staging.path("compact_small", sf_dir)
    path_big = staging.path("compact_big", sf_dir)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts")
    ev.repartition(COMPACT_SMALL_FILES).write.mode(
        "overwrite").parquet(path_small)
    (read_staged(spark, path_small, ev.schema)
     .repartitionByRange(COMPACT_TARGET_FILES, "user_id", "ts")
     .write.mode("overwrite").parquet(path_big))
    compacted = read_staged(spark, path_big, ev.schema)
    return compacted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


DLQ_MOD = 37  # every 37th event's JSON line is corrupted in staging


@query(
    "q_source_json_dlq",
    oracle=f"""
    SELECT
      CASE WHEN event_id % {DLQ_MOD} = 0 THEN '_dlq'
           ELSE event_type END AS bucket,
      COUNT(*) AS n_rows,
      {o_dsum(f"CASE WHEN event_id % {DLQ_MOD} = 0 THEN 0.0 "
              "ELSE value END", 'sum_value')}
    FROM events
    GROUP BY 1
    """,
    tags=("S4", "source-json", "dlq"),
)
def q_source_json_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRUPT-RECORD ROUTING (dead-letter queue): stage events as JSON
    lines with every {DLQ_MOD}th line deterministically truncated, read
    back PERMISSIVE with a ``_corrupt_record`` column, route unparseable
    lines to a '_dlq' bucket and aggregate the clean rows — the
    poison-pill discipline every production ingest needs (FAILFAST, the
    q_source_csv default, is for trusted batches; feeds are not
    trusted). The oracle reconstructs the same fates logically from the
    events table (corruption is a pure function of event_id), proving
    both that no valid row was lost or mangled AND that every corrupt
    line landed in the DLQ rather than silently nulling out.

    Scale shape: staging writes and permissive reads are partition-
    parallel scans; the fate split is a per-row CASE; one report
    aggregate. The DLQ bucket preserves rows for replay — at warehouse
    scale it is written out as its own table, not dropped."""
    path = staging.path("json_dlq_events", sf_dir)
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.to_json(F.struct(
            *[F.col(f.name) for f in JSON_EVENTS_SCHEMA.fields]))
        .alias("line"))
    corrupted = ev.select(
        F.when(F.col("event_id") % DLQ_MOD == 0,
               F.expr("substr(line, 1, length(line) - 5)"))
        .otherwise(F.col("line")).alias("value"))
    corrupted.write.mode("overwrite").text(path)
    schema = T.StructType(
        list(JSON_EVENTS_SCHEMA.fields)
        + [T.StructField("_corrupt_record", T.StringType())])
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return (
        parsed.select(
            F.when(bad, "_dlq").otherwise(F.col("event_type"))
            .alias("bucket"),
            F.when(bad, 0.0).otherwise(F.col("value")).alias("value"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             dsum("value", "sum_value"))
    )


# ---- Dynamic partition overwrite (idempotent backfill) -------------------

def stage_backfill(spark: SparkSession, sf_dir: str) -> str:
    """Stage events partitioned by type, then dynamically overwrite ONE
    partition (the backfill re-run)."""
    def build(path: str) -> None:
        ev = load(spark, sf_dir, "events").select("event_type", "value")
        ev.write.mode("overwrite").partitionBy("event_type") \
            .parquet(path)
        # the backfill: rewrite ONLY the 'click' partition; the write
        # option scopes dynamic overwrite to this one write
        (ev.where(F.col("event_type") == "click")
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("event_type").parquet(path))
    return staging.stage("backfill_events", sf_dir, build,
                         inputs=("events",))


@query(
    "q_sink_backfill",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("S8", "backfill", "partition-overwrite"),
)
def q_sink_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDEMPOTENT PARTITION BACKFILL with DYNAMIC partition overwrite:
    the events table is staged partitioned by event_type, then one
    partition ('click') is re-written with CORRECTED data (here: the
    same rows recomputed — a backfill re-run) in
    ``partitionOverwriteMode=dynamic`` — only partitions present in the
    written batch are replaced, every other partition's files are
    untouched (STATIC mode would truncate the whole table first: the
    classic backfill data-loss trap). The oracle aggregates the
    original events; equality proves the re-written partition is
    complete and the untouched partitions survived. At 100 TB this is
    THE nightly-correction primitive: rewrite yesterday's bad
    partitions in place, atomically per partition, no full-table
    rewrite."""
    path = stage_backfill(spark, sf_dir)
    df = read_staged(spark, path, "event_type string, value double")
    from ..compat import dsum
    return (
        df.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
             dsum("value", "sum_value"))
    )


def _file_layout_oracle(sf_dir: str) -> str:
    path = staging.path("backfill_events", sf_dir)
    return f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM read_parquet('{path}/*/*.parquet',
                      filename = true)
    GROUP BY 1
    """


@query(
    "q_audit_file_layout",
    oracle=_file_layout_oracle,
    tags=("S8", "audit", "file-layout"),
)
def q_audit_file_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-LAYOUT AUDIT: per-file row counts of the staged partitioned
    table via ``input_file_name()`` — the distributed health check that
    surfaces small-file explosions and writer skew (the problems
    q_sink_compaction and the z-order sink exist to fix) without any
    metadata service: the file name IS a grouping column, so the audit
    is one scan + one tiny aggregate at any table size. Runs over the
    q_sink_backfill staging, so the per-file counts also PROVE the
    dynamic overwrite rewrote exactly one partition\'s files (the
    audited file set is post-backfill)."""
    path = stage_backfill(spark, sf_dir)
    df = read_staged(spark, path, "event_type string, value double")
    return (
        df.select(F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
                  .alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )


# ---- Raw text-line source (the HL7/log-file ingest shape) ----------------

@query(
    "q_source_textlines",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
    tags=("S3", "text-source"),
)
def q_source_textlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAW TEXT-LINE ingest (``spark.read.text``) round trip: documents
    staged as delimited lines (``doc_id|lang|text`` — the shape HL7
    segment files, log feeds and every legacy line-oriented export
    arrive in), re-read as a one-column text relation and re-parsed
    with native split/getItem expressions, then aggregated against the
    ORIGINAL parquet oracle — any line lost, mis-split, or truncated
    by the round trip fails the hash gate. The parse stays row-local
    (scan-speed, no Python); the 2-field limit on split keeps embedded
    text intact past the second delimiter. This is the missing first
    rung under the typed CSV/JSON loaders: the format BEFORE there is
    a format."""
    def build(path: str) -> None:
        (load(spark, sf_dir, "documents")
         .select(F.concat_ws("|", F.col("doc_id").cast("string"),
                             "lang", "text").alias("value"))
         .coalesce(4)
         .write.mode("overwrite").text(path))
    raw = spark.read.text(staging.stage("textlines_docs", sf_dir, build,
                                        inputs=("documents",)))
    parts = F.split(F.col("value"), r"\|", 3)
    parsed = raw.select(
        parts.getItem(0).cast("bigint").alias("doc_id"),
        parts.getItem(1).alias("lang"),
        parts.getItem(2).alias("text"))
    return (
        parsed.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum(F.length("text")).cast("bigint").alias("total_chars"))
    )
