"""Harness-table IO: schemas + loaders.

The reference's storage layer is a single embedded DuckDB file whose fixed
schema is created by a bootstrap script (reference README.md:7,36,55-58);
the Spark-native equivalent is schema-checked Parquet reads (here) plus
managed-table writes (see ``write_table``). Explicit schemas mean a corrupt
or drifted input fails loudly at plan time instead of poisoning results.

Scale notes (100 TB design):
- Readers take a directory of per-table parquet; on a cluster this is a
  partitioned table path — the same ``spark.read.parquet`` call prunes
  partitions and pushes filters (verified via .explain in tests/bench).
- ``events.ts`` has shipped under two physical types across bootstrap
  generations. INT64 TIMESTAMP(NANOS) cannot map to TimestampType in
  Spark 4 (PARQUET_TYPE_ILLEGAL): we read it as raw int64
  (``spark.sql.legacy.parquet.nanosAsLong``) and convert with
  ``timestamp_micros(ts div 1000)`` — a pure JVM expression, zero Python
  cost, identical to the DuckDB oracle's ``CAST(ts AS TIMESTAMP)``
  truncation (verified bit-exact in tests). Plain timestamp[us] reads as
  TIMESTAMP_NTZ and is cast to the session-UTC TimestampType, which is
  value-identical. ``load`` branches on the scanned type.
"""

from __future__ import annotations

import glob
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import ensure_session_conf

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Logical schemas of the harness tables (FIXTURES.md §A). `events.ts` is
# declared here with its *post-conversion* logical type (timestamp); the
# physical read sees int64 nanos first.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}


def events_data_path(sf_dir: str) -> str:
    """THE resolver for the events table's physical layout — the one
    place that knows events may be (a) the exact events.parquet file
    (harness layout), (b) a directory of part files named
    events.parquet (sweep-built fixtures), or (c) SUFFIXED drop files
    (events_000.parquet …, the multi-batch arrival layout the
    streaming source drains). The batch loader and the streaming
    schema probe both route through here so the two can never read
    different file sets (r14 review item). The harness layout always
    has the exact path, so plans and bytes there are unchanged."""
    exact = f"{sf_dir.rstrip('/')}/events.parquet"
    if os.path.exists(exact):
        return exact
    return f"{sf_dir.rstrip('/')}/events*.parquet"


def _table_files(sf_dir: str, name: str) -> list[str]:
    """The physical file set a ``load`` of this table reads (resolved
    through the same ``events_data_path`` rule), globs and directories
    expanded. Pure-Python filesystem metadata — no JVM traffic."""
    if name == "events":
        path = events_data_path(sf_dir)
    else:
        path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    files = sorted(glob.glob(path)) if any(
        c in path for c in "*?[") else [path]
    out: list[str] = []
    for f in files:
        if os.path.isdir(f):
            out.extend(sorted(glob.glob(os.path.join(f, "*.parquet"))))
        else:
            out.append(f)
    return out


def _table_fingerprint(sf_dir: str, name: str) -> tuple:
    """(path, mtime_ns, size) per file — a regenerated or rewritten
    fixture changes the fingerprint and invalidates any memo entry."""
    fps = []
    for f in _table_files(sf_dir, name):
        try:
            st = os.stat(f)
            fps.append((f, st.st_mtime_ns, st.st_size))
        except OSError:
            fps.append((f, -1, -1))
    return tuple(fps)


# Per-session memo of loaded table DataFrames, keyed by (sf_dir, table)
# with the file fingerprint as guard. A DataFrame is an immutable
# LOGICAL PLAN — reusing the object never caches data or results; it
# only skips the spark.read.parquet footer probe and schema branch that
# every construction repaid through py4j (optimization guide §4: the
# Python boundary includes plan-building round trips; measured r15 the
# re-probe cost 0.2-0.7 s of pure query CONSTRUCTION on SQL-text
# queries). It names nothing in the session: ``sql`` binds these
# DataFrames per call. Single-session memo: a different session object
# resets it (stopped sessions hold invalid plans); a changed
# fingerprint (tests regenerating fixtures in place) rebuilds the entry.
_LOAD_MEMO: dict = {"spark": None, "dfs": {}}


def _session_memo(spark: SparkSession) -> dict:
    if _LOAD_MEMO["spark"] is not spark:
        _LOAD_MEMO["spark"] = spark
        _LOAD_MEMO["dfs"] = {}
    return _LOAD_MEMO


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness table as a DataFrame with its logical schema."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_conf(spark)
    memo = _session_memo(spark)
    fp = _table_fingerprint(sf_dir, name)
    hit = memo["dfs"].get((sf_dir, name))
    if hit is not None and hit[0] == fp:
        return hit[1]
    if name == "events":
        path = events_data_path(sf_dir)
    else:
        path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events":
        # The bootstrap has shipped events.ts under two physical types:
        # INT64 TIMESTAMP(NANOS) (reads as long under nanosAsLong) and
        # plain timestamp[us] (reads as TIMESTAMP_NTZ). Branch on what the
        # scan actually produced so both generations load identically.
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # int64 nanos -> microsecond TimestampType; matches the
            # oracle's CAST(ts AS TIMESTAMP) truncation bit-for-bit.
            # Integer division — ns values exceed 2^53, so a double
            # division here would silently round the microsecond (caught
            # by the oracle mirror test).
            ts = F.timestamp_micros(F.expr("ts DIV 1000"))
        else:
            # NTZ -> session-local TimestampType; the session tz is
            # pinned to UTC (session.py) so the cast is value-preserving
            # and downstream code sees the same type as the nanos path.
            ts = F.col("ts").cast("timestamp")
        df = df.withColumn("ts", ts).select(
            "event_id", "ts", "user_id", "event_type", "value", "props")
    memo["dfs"][(sf_dir, name)] = (fp, df)
    return df


# Footer-derived max scan parallelism per resolved file set, keyed by
# (path, mtime, size) so a regenerated fixture invalidates the entry.
# Metadata only — never query results.
_SPLIT_CACHE: dict[tuple, int] = {}


def scan_split_parallelism(sf_dir: str, name: str,
                           limit: int | None = None) -> int:
    """Max achievable scan parallelism for a harness table's file set:
    parquet ROW GROUPS summed over files. Spark splits files by byte
    range (maxPartitionBytes), but a row group is the decode unit — a
    single-row-group file yields exactly one non-empty scan partition
    no matter how it is split, so row-group count (not file count or
    bytes) bounds how many cores can ever touch the data. Footer-only
    reads, cached by (path, mtime, size).

    ``limit`` (r16, VERDICT r15 item 4): the only caller gates on
    ``< n`` — once the running total reaches ``limit`` the answer is
    decided, so stop stat-ing/reading footers. At warehouse scale
    (10^5 files) the healthy-layout fast path touches a handful of
    footers instead of every file in the table."""
    import glob as _glob

    import pyarrow.parquet as pq

    if name == "events":
        path = events_data_path(sf_dir)
    else:
        path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    files = sorted(_glob.glob(path)) if any(
        c in path for c in "*?[") else [path]
    total = 0
    for f in files:
        if os.path.isdir(f):
            files.extend(sorted(_glob.glob(os.path.join(f, "*.parquet"))))
            continue
        st = os.stat(f)
        key = (f, st.st_mtime_ns, st.st_size)
        if key not in _SPLIT_CACHE:
            _SPLIT_CACHE[key] = pq.ParquetFile(f).metadata.num_row_groups
        total += _SPLIT_CACHE[key]
        if limit is not None and total >= limit:
            return total
    return max(total, 1)


def load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` plus INPUT-PARALLELISM REPAIR (optimization guide §2.5,
    "input skew: one huge unsplittable file — repartition immediately
    after the read"): when the table's physical layout cannot split to
    the session's parallelism (fewer row groups than cores — the
    single-file single-row-group harness fixture is the extreme case),
    round-robin repartition right after the scan so downstream per-row
    compute uses every core instead of one.

    Scale-adaptive by construction: at warehouse scale the file set
    carries orders of magnitude more row groups than the cluster has
    cores, the condition is false, and this is byte-identical to
    ``load`` — no extra exchange ever appears in a healthy-layout plan.

    Deliberately OPT-IN per query site, not folded into ``load``: the
    repair pays one full-data shuffle, which only wins when the scan
    stage fuses heavy per-row compute (measured r15 at sf0.1: the
    single-pass multi-decimal aggregates win 25-35%; multi-pass
    scanners like the two-pass exact quantiles pay the shuffle per
    pass and LOSE ~2x; join inputs just add an exchange below the join
    exchange and lose; see OPTIMIZATION_r15.md for the full sweep)."""
    df = load(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    if scan_split_parallelism(sf_dir, name, limit=n) < n:
        df = df.repartition(n)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def sub_outside_literals(pattern: str, repl, sql: str) -> str:
    """re.sub that never rewrites inside single-quoted SQL literals
    (ADVICE r13: a bare re.sub over the whole text would also rewrite
    a table token inside a predicate literal like p_name LIKE '%part%',
    silently corrupting BOTH engine texts). Splitting on the literal
    grammar ('' is the escaped quote) keeps literals at odd indexes;
    substitution touches only the code segments between them."""
    parts = re.split(r"('(?:[^']|'')*')", sql)
    return "".join(p if i % 2 else re.sub(pattern, repl, p)
                   for i, p in enumerate(parts))


def sql(spark: SparkSession, sf_dir: str, text: str,
        **frames: DataFrame) -> DataFrame:
    """THE SQL binding rule for a text shared with the DuckDB oracle:
    run ``text`` verbatim with every bare table token bound to a
    DataFrame, never to a session catalog name.

    Outside single-quoted literals, each token naming a harness table
    (``TABLES``) or a key of ``frames`` becomes a ``{token}``
    placeholder (every other ``{``/``}`` is escaped first); a ``frames``
    key binds the DataFrame passed, a harness token binds
    ``load(spark, sf_dir, token)``. ``spark.sql`` registers each bound
    DataFrame under a fresh ``_pyspark_<uuid>`` view, analyzes the
    text and drops the views before it returns, so a query leaves the
    session's views as it found them, a user's view named ``orders``
    is never read, and two sfs on two threads never share a name."""
    bound: dict[str, DataFrame] = {}

    def bind(m: re.Match) -> str:
        t = m.group(0)
        if t not in bound:
            bound[t] = frames[t] if t in frames else load(spark, sf_dir, t)
        return "{" + t + "}"

    out = sub_outside_literals(
        rf"\b(?:{'|'.join({*TABLES, *frames})})\b", bind,
        text.replace("{", "{{").replace("}", "}}"))
    return spark.sql(out, **bound) if bound else spark.sql(text)


def _staging_fingerprint(path: str) -> tuple:
    """Shallow change detector for a staged directory: the dir's own
    (mtime, size) plus each immediate entry's (name, mtime). Every
    restage in the repo goes through ``write.mode("overwrite")`` (delete
    + recreate) or writes new entries under the path, both of which
    touch this level. Pure filesystem metadata — no JVM traffic."""
    fps = []
    try:
        st = os.stat(path)
        fps.append((path, st.st_mtime_ns, st.st_size))
        with os.scandir(path) as it:
            for e in sorted(it, key=lambda x: x.name):
                fps.append((e.name, e.stat().st_mtime_ns))
    except OSError:
        fps.append((path, -1, -1))
    return tuple(fps)


def read_staged(spark: SparkSession, path: str, schema) -> DataFrame:
    """Re-read a staging this process (or a prior one) wrote, with the
    WRITER'S schema instead of inference. Inference fails outright on an
    empty staging (writing a zero-row DataFrame to parquet produces only
    _SUCCESS, no schema-bearing part files) — and at 100 TB a zero-row
    staging is routine (an empty partition day, a filtered-out tenant),
    so every staged re-read in the repo goes through this. For
    partitioned stagings the partition column is simply part of the
    schema; Spark still resolves its values from directory names when
    files exist. (Empty-input posture proven by
    scripts/empty_input_sweep.py.)

    Memoized per (session, path, schema) with a directory fingerprint
    guard: partitioned stagings pay their directory discovery once per
    process instead of per query construction (the DataFrame is a plan,
    never data — a restage or a new session rebuilds it)."""
    memo = _session_memo(spark)
    fp = _staging_fingerprint(path)
    key = ("staged", path, str(schema))
    hit = memo["dfs"].get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    df = spark.read.schema(schema).parquet(path)
    memo["dfs"][key] = (fp, df)
    return df


def write_table(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """Columnar sink (SURVEY.md §2.1 S8): partitioned parquet staging.

    At 100 TB the partition columns (date/source) are what make downstream
    partition pruning possible; locally it is just a directory layout.
    """
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int,
                   sort: bool = True, path: str | None = None) -> None:
    """Bucketed table (SURVEY.md §2.1 S8 scale variant).

    Writing both sides of a hot join bucketed (and sorted) by the join
    key makes the join shuffle-free: each task reads matching bucket
    files from both tables — at 100 TB this converts the recurring
    fact⋈fact shuffle into a one-time layout cost paid at ingest.
    Bucket counts must match across the joined tables. With ``path`` the
    table is external (repo-local staging); otherwise managed in the
    session warehouse.
    """
    spark = df.sparkSession
    # Idempotence across sessions: a prior run's table directory may
    # exist while the (in-memory) catalog does not know the table —
    # saveAsTable then fails with LOCATION_ALREADY_EXISTS. Drop both.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if path is None:
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse")
        location = os.path.join(
            warehouse.removeprefix("file:"), table.lower())
    else:
        location = path
    shutil.rmtree(location, ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if path is not None:
        w = w.option("path", path)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
