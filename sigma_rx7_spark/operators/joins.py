"""Joins (SURVEY.md §2.3 J1-J2, J4-J7, J9-J10).

Reference capability: the rules layer is join-dominated — "Join
prescriptions to drug classes, Orange Book brand/generic links and public
pricing/formulary data" (reference README.md:8), formulary alignment with
missing-row flags (README.md:9,25), existence checks for the UI
(README.md:69-70).

Spark-first scale strategy:
- Dimension lookups (J1/J4): ``broadcast()`` the small side — no shuffle
  of the 100 TB fact table, map-side hash join in every task.
- Large-large (J2 fact⋈fact): let AQE pick sort-merge vs shuffled-hash and
  split skewed partitions; we only fix the join *keys*, not the strategy.
- Semi/anti: expressed as ``left_semi``/``left_anti`` so Spark never
  materializes the probe side's payload columns.
- Theta (J9): keep the small side broadcast-sized — a broadcast
  nested-loop join over a 5-row bands table costs nothing; the same plan
  against two large sides would be the bug, not the operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import dsum, o_dsum
from ..io import load
from ..materialize import share
from ..registry import query


@query(
    "q_join_broadcast",
    oracle=f"""
    SELECT
      p_brand,
      COUNT(*) AS n_lines,
      {o_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    tags=("J1",),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dimension lookup join (meds→drug_classes shape, README.md:8):
    fact table joined to a broadcast dimension, then aggregated. The fact
    side is never shuffled for the join."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum(rev, "revenue"))
    )


@query(
    "q_join_multiway",
    oracle=f"""
    SELECT
      n_name,
      {o_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
      COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    tags=("J2",),
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (prescriptions⋈classes⋈OrangeBook⋈pricing⋈
    formulary shape, README.md:8-9; TPC-H Q5 shape here). The two fact
    tables join on their keys; the three dimensions broadcast, and the
    region filter prunes before the big join."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


@query(
    "q_join_lookup_filter",
    oracle="""
    SELECT
      l_orderkey, l_linenumber, p_brand,
      l_extendedprice - p_retailprice * l_quantity AS margin
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'ECONOMY'
      AND l_extendedprice - p_retailprice * l_quantity > 0
    """,
    tags=("J4",),
)
def q_join_lookup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookup join + price-comparison filter (brand→generic substitution
    shape: join Orange Book, keep the cheaper option; README.md:3,8,24)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    margin = F.col("l_extendedprice") - F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(margin > 0)
        .select("l_orderkey", "l_linenumber", "p_brand",
                margin.alias("margin"))
    )


@query(
    "q_join_left",
    oracle="""
    SELECT
      c_custkey,
      COUNT(o_orderkey) AS n_open_orders,
      COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE), 0.0)
        AS open_total,
      COUNT(o_orderkey) = 0 AS has_none
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
      ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    tags=("J5",),
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join keeping unmatched rows as flags (formulary
    alignment: keep meds with no formulary row to flag them,
    README.md:9,25)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_open_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(20,6)"))
                .cast("double"),
                F.lit(0.0),
            ).alias("open_total"),
            (F.count("o_orderkey") == 0).alias("has_none"),
        )
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
    )
    """,
    tags=("J6",),
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join — existence check ("patients that have ≥1
    recommendation" UI dropdown shape, README.md:69-70). left_semi never
    materializes order payload columns."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
    )
    """,
    tags=("J7",),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — the negative space of J4/J5 (meds NOT on formulary /
    brands with no generic link, README.md:8-9)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "q_join_theta",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('tiny', 0, 10), ('small', 11, 20), ('medium', 21, 30),
             ('large', 31, 40), ('jumbo', 41, 1000000)
    )
    SELECT band, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(20,6))) AS DOUBLE)
             AS sum_price
    FROM part
    JOIN bands ON p_size >= lo AND p_size <= hi
    GROUP BY band
    """,
    tags=("J9", "J10"),
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join against an in-memory band table (age-band ×
    dosing-rule shape, README.md:9). Broadcast nested-loop join — correct
    exactly because the band side is tiny."""
    p = load(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("tiny", 0, 10), ("small", 11, 20), ("medium", 21, 30),
         ("large", 31, 40), ("jumbo", 41, 1_000_000)],
        "band string, lo int, hi int",
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_size >= bands.lo) & (p.p_size <= bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_parts"),
             dsum("p_retailprice", "sum_price"))
    )


def salted_join(left: DataFrame, right: DataFrame, key: str,
                n_salt: int = 16, how: str = "inner") -> DataFrame:
    """Skew-salted equi-join: identical result to ``left.join(right, key,
    how)``, but a hot key's rows spread over ``n_salt`` shuffle partitions
    instead of landing on one straggler executor.

    Mechanics: the (large, skewed) left side gets a salt derived from a
    per-row hash; the (smaller) right side replicates each row across all
    n_salt salt values; the join key becomes (key, salt). Replication
    costs n_salt× the right side — use when the right side is modest and
    the left has pathological keys AQE's skew splitting can't fix (e.g. a
    single key holding >1 partition-size of rows feeding a sort-merge
    join). AQE skew-join handles most cases; this is the explicit escape
    hatch, and a unit test pins result-equality with the plain join.

    Only inner/left joins are legal here: right/full outer would produce
    n_salt copies of right rows with no left match.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(F.xxhash64(F.col(key), F.monotonically_increasing_id()),
                  F.lit(n_salt)).cast("int")
    salted_l = left.withColumn("_salt", salt)
    salted_r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumnRenamed(key, "_r_key")
    out = salted_l.join(
        salted_r,
        (salted_l[key] == salted_r["_r_key"])
        & (salted_l["_salt"] == salted_r["_salt"]),
        how,
    )
    return out.drop("_salt", "_r_key")


@query(
    "q_join_nullsafe",
    oracle="""
    WITH o AS (
      SELECT NULLIF(o_orderstatus, 'P') AS status_key, o_totalprice
      FROM orders
    ), dim(status_key, label) AS (
      VALUES ('F', 'fulfilled'), ('O', 'open'), (NULL, 'pending')
    )
    SELECT d.label,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM o JOIN dim d ON o.status_key IS NOT DISTINCT FROM d.status_key
    GROUP BY d.label
    """,
    tags=("J11", "null-safe"),
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match a designated NULL dimension row instead of vanishing — the
    unknown-code fallback lookup every coding-system join needs
    (unmapped RxNorm codes, README.md:7). Plans as a hash join exactly
    like ``=``; the null bucket is just another key value."""
    o = load(spark, sf_dir, "orders").select(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_key"),
        "o_totalprice",
    )
    dim = spark.createDataFrame(
        [("F", "fulfilled"), ("O", "open"), (None, "pending")],
        "status_key string, label string",
    )
    return (
        o.join(F.broadcast(dim),
               o.status_key.eqNullSafe(dim.status_key))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             dsum("o_totalprice", "sum_price"))
    )


@query(
    "q_join_salted",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           {o_dsum('value', 'sum_value')}
    FROM events
    JOIN customer ON user_id + 1 = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("J2", "skew", "salted"),
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salted join under the correctness gate: events joined to
    customer through ``salted_join`` (hot keys spread over 16 shuffle
    partitions), aggregated per segment — and the oracle is the PLAIN
    join, so the hash match proves salting changes the physical shuffle
    layout without touching the result. Property tests pin that equality
    on adversarial inputs; this query pins it on the harness data under
    the external gate."""
    ev = (load(spark, sf_dir, "events")
          .select((F.col("user_id") + 1).alias("c_custkey"), "value"))
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    joined = salted_join(ev, cust, "c_custkey", n_salt=16)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )


# ---- Pre-join cardinality audit ------------------------------------------

TOP_HOT_KEYS = 10


@query(
    "q_join_cardinality_audit",
    oracle=f"""
    WITH l AS (
      SELECT o_custkey AS k, COUNT(*) AS c_orders
      FROM orders GROUP BY 1
    ), r AS (
      SELECT c_custkey AS k, COUNT(*) AS c_cust
      FROM customer GROUP BY 1
    ), j AS (
      SELECT COALESCE(l.k, r.k) AS k,
             COALESCE(c_orders, 0) AS c_orders,
             COALESCE(c_cust, 0) AS c_cust
      FROM l FULL JOIN r ON l.k = r.k
    )
    SELECT CAST(k AS BIGINT) AS hot_key,
           CAST(c_orders AS BIGINT) AS n_left,
           CAST(c_cust AS BIGINT) AS n_right,
           CAST(c_orders * c_cust AS BIGINT) AS pairs,
           CAST((SELECT SUM(c_orders * c_cust) FROM j) AS BIGINT)
             AS total_join_rows,
           CAST((SELECT SUM(CASE WHEN c_cust = 0 THEN c_orders ELSE 0
                            END) FROM j) AS BIGINT) AS orphan_left_rows
    FROM j
    ORDER BY pairs DESC, k
    LIMIT {TOP_HOT_KEYS}
    """,
    tags=("J2", "audit", "cardinality"),
)
def q_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-JOIN CARDINALITY AUDIT: per-key multiplicities on BOTH sides
    of a prospective join, the exact output size it would produce
    (Σ cₗ·cᵣ), the orphan volume, and the {TOP_HOT_KEYS} hottest keys —
    the numbers that decide, BEFORE burning a 100 TB shuffle, whether
    the join needs salting (hot-key pairs dominate), is safe
    (multiplicities ~1), or is a bug (total_join_rows ≫ either input:
    the accidental many-to-many every pipeline hits once). Runs on key
    histograms (two key-keyed aggregates + a full outer join of
    key-count relations) — input-row volume never joins. The audit
    columns are all integers: engine-exact for free."""
    o = load(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c_orders"))
    c = load(spark, sf_dir, "customer").groupBy(
        F.col("c_custkey").alias("k2")).agg(
        F.count(F.lit(1)).alias("c_cust"))
    # totals and top-k both consume j
    j = share(o.join(c, o.k == c.k2, "full")
              .select(F.coalesce("k", "k2").alias("k"),
                      F.coalesce("c_orders", F.lit(0)).alias("c_orders"),
                      F.coalesce("c_cust", F.lit(0)).alias("c_cust")))
    totals = j.agg(
        F.sum(F.col("c_orders") * F.col("c_cust")).cast("bigint")
        .alias("total_join_rows"),
        F.sum(F.when(F.col("c_cust") == 0, F.col("c_orders"))
              .otherwise(0)).cast("bigint").alias("orphan_left_rows"))
    return (
        j.crossJoin(F.broadcast(totals))
        .select(F.col("k").cast("bigint").alias("hot_key"),
                F.col("c_orders").cast("bigint").alias("n_left"),
                F.col("c_cust").cast("bigint").alias("n_right"),
                (F.col("c_orders") * F.col("c_cust")).cast("bigint")
                .alias("pairs"),
                "total_join_rows", "orphan_left_rows")
        .orderBy(F.col("pairs").desc(), "hot_key")
        .limit(TOP_HOT_KEYS)
    )


# ---- Supplier league table per part segment ------------------------------

TOP_SUPPLIERS = 3


@query(
    "q_join_supplier_league",
    oracle=f"""
    WITH rev AS (
      SELECT p.p_brand, l.l_suppkey,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(20,6))) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    )
    SELECT p_brand, s.s_name AS supplier, n.n_name AS nation,
           revenue,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT p_brand, l_suppkey, revenue,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY revenue DESC, l_suppkey) AS rnk
      FROM rev
    ) r
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE rnk <= {TOP_SUPPLIERS}
    """,
    tags=("J2", "W1", "league"),
)
def q_join_supplier_league(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUPPLIER LEAGUE TABLE: the top-{TOP_SUPPLIERS} suppliers by
    discounted revenue within every part brand, with their nations —
    the vendor-scorecard rollup exercising the supplier axis end to
    end (fact → part dim for the segment, windowed rank inside each
    segment, supplier+nation dims decoded LAST so the window runs on
    keys, not names). Scale shape: one fact aggregate to (brand,
    supplier) grain — everything after runs on that tiny relation;
    all three dims broadcast; revenue exact-decimal; (revenue,
    suppkey) total-orders the rank."""
    from pyspark.sql import Window

    from ..compat import q as qd

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("disc_price"))
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum(qd("disc_price")).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("revenue").desc(), "l_suppkey")
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_SUPPLIERS)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("p_brand", F.col("s_name").alias("supplier"),
                F.col("n_name").alias("nation"), "revenue",
                F.col("rnk").cast("int").alias("rnk"))
    )


# ---- Bloom-pruned join (semi-join reduction, J13) -------------------------------

BJ_NATIONS = 5  # build side: suppliers of nations 0..4 (selective dim)


@query(
    "q_join_bloom_filtered",
    oracle=f"""
    SELECT s.s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(20,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE s.s_nationkey < {BJ_NATIONS}
    GROUP BY s.s_nationkey
    """,
    tags=("J13", "join", "bloom", "runtime-filter"),
)
def q_join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-PRUNED JOIN (explicit semi-join reduction): revenue per
    supplier nation for a SELECTIVE dimension slice, with the fact
    table pre-filtered by a Bloom filter of the build-side keys BEFORE
    it ever reaches the join — the runtime-filter technique every
    warehouse engine applies implicitly (and Spark itself via
    spark.sql.optimizer.runtime.bloomFilter), here materialized as an
    explicit, engine-portable operator: md5-sliced hash positions
    (A51's convention) into an m-slot BOOLEAN BITMAP carried as ONE
    broadcast array; a row survives iff ALL k positions are set
    (`forall` + element_at — O(1) per hash, JVM codegen, no UDF).

    The ORACLE is the PLAIN join with no bloom anywhere: a green hash
    proves the reduction is semantics-free (no false negatives — the
    Bloom guarantee; false positives die in the real join that
    follows). At 100 TB the payoff is shuffle avoidance: the filter
    runs map-side on the scan, so only passing rows (true matches +
    the measured ~0.1% false positives) pay the join's exchange.

    Scale: the filter is ≤ {BLOOM_BITS} positions regardless of build
    cardinality; the dim side broadcasts; the fact is scanned once."""
    from .aggregates import BLOOM_BITS, BLOOM_HASHES

    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").where(
        F.col("s_nationkey") < BJ_NATIONS)

    def bloom_pos(key) -> list:
        h = F.md5(key.cast("string"))
        return [
            F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("bigint")
            % BLOOM_BITS
            for i in range(BLOOM_HASHES)
        ]

    # The filter broadcasts as a FIXED-LENGTH boolean bitmap (m slots)
    # probed by element_at — O(1) per hash. A position-LIST probed with
    # array_contains was measured SUPERLINEAR by the scaling gate
    # (g10 21.6: the list grows with the build side while probe rows
    # grow with the fact, a structural m x n term).
    bitset = (s.select(F.explode(F.array(*bloom_pos(F.col("s_suppkey"))))
                       .alias("pos"))
              .agg(F.array_sort(F.collect_set("pos")).alias("bits"))
              .select(F.transform(
                  F.sequence(F.lit(0), F.lit(BLOOM_BITS - 1)),
                  lambda j: F.array_contains(F.col("bits"), j))
                  .alias("bitvec")))
    probe = li.crossJoin(F.broadcast(bitset)).where(
        F.forall(F.array(*bloom_pos(F.col("l_suppkey"))),
                 lambda p: F.element_at(F.col("bitvec"),
                                        (p + 1).cast("int"))))
    joined = probe.join(F.broadcast(s), probe.l_suppkey == s.s_suppkey)
    # per-row product in DOUBLE, quantized once to decimal(20,6) (the
    # repo's revenue discipline): decimal x decimal would pick up
    # engine-specific scale caps mid-product.
    rev = F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(20,6)"))
    return (joined.groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).alias("n_lines"), rev.alias("r"))
            .select("s_nationkey",
                    F.col("n_lines").cast("bigint").alias("n_lines"),
                    F.col("r").cast("double").alias("revenue")))


# ---- Epsilon-band numeric join (J16) ----------------------------------------

BAND_EPS_DECI = 1  # band width in 0.1-currency grid units (= |Δprice| ≤ 0.1)


@query(
    "q_join_band",
    oracle=f"""
    WITH g AS (
      SELECT p_partkey, p_type,
             CAST(round(p_retailprice * 10) AS BIGINT) AS pi
      FROM part
    ),
    pairs AS (
      SELECT a.p_type, a.pi AS pa, b.pi AS pb
      FROM g a JOIN g b
        ON a.p_type = b.p_type
       AND a.p_partkey < b.p_partkey
       AND abs(a.pi - b.pi) <= {BAND_EPS_DECI}
    )
    SELECT p.p_type,
           CAST(MAX(np.n_parts) AS BIGINT) AS n_parts,
           CAST(COUNT(*) AS BIGINT) AS n_band_pairs,
           CAST(CAST(CAST(SUM(abs(p.pa - p.pb)) AS DOUBLE)
                / (10.0 * COUNT(*)) AS DECIMAL(18,6)) AS DOUBLE)
             AS avg_abs_diff
    FROM pairs p
    JOIN (SELECT p_type, COUNT(*) AS n_parts FROM g GROUP BY p_type) np
      ON np.p_type = p.p_type
    GROUP BY p.p_type
    ORDER BY p.p_type
    """,
    tags=("J16", "join", "band"),
)
def q_join_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSILON-BAND NUMERIC JOIN: parts of the same type whose retail
    prices differ by at most one 0.1-currency grid unit — the
    |x − y| ≤ ε join shape behind price-matching, sensor alignment,
    and tolerance-based reconciliation. The naive plan is a per-type
    CROSS join with an abs() filter (the oracle states exactly that,
    and at 10⁹ parts it is 10¹⁸ comparisons); the engine plan buckets
    each row into ε-width cells (cell = floor(pi / ε), the standard
    ε-cell construction: |Δ| ≤ ε ⇒ the two cells differ by at most 1
    for ANY ε ≥ 1, not just ε = 1) and EQUI-joins each probe row's
    three adjacent cells — candidate volume is OUTPUT-bound (density
    per cell), not n² — then dedups structurally: the build side emits
    ONE cell, the probe side explodes {{c−1, c, c+1}} (three distinct
    keys), so a qualifying pair meets on exactly one (cell) key and no
    distinct is needed.

    Determinism discipline: prices are quantized onto their native
    0.1 grid as exact BIGINTs FIRST (round(x·10) — the banding and the
    ε-filter are integer arithmetic in both engines; no float floor at
    a cell boundary can ever disagree). Output is the per-type band
    report (pair count, mean |Δ|), one quantized division."""
    p = load(spark, sf_dir, "part")
    g = p.select(
        "p_partkey", "p_type",
        F.round(F.col("p_retailprice") * 10).cast("bigint").alias("pi"))
    cell = F.floor(F.col("pi") / BAND_EPS_DECI)
    a = g.select(F.col("p_type"), F.col("p_partkey").alias("ka"),
                 F.col("pi").alias("pa"), cell.alias("cell"))
    b = g.select(F.col("p_type"), F.col("p_partkey").alias("kb"),
                 F.col("pi").alias("pb"),
                 F.explode(F.array(
                     cell - 1, cell, cell + 1)).alias("cell"))
    pairs = (a.join(b, ["p_type", "cell"])
             .where((F.col("ka") < F.col("kb"))
                    & (F.abs(F.col("pa") - F.col("pb"))
                       <= BAND_EPS_DECI))
             .select("p_type", "pa", "pb"))
    np_ = g.groupBy("p_type").agg(F.count(F.lit(1)).alias("n_parts"))
    return (pairs.join(F.broadcast(np_), "p_type")
            .groupBy("p_type")
            .agg(F.max("n_parts").cast("bigint").alias("n_parts"),
                 F.count(F.lit(1)).cast("bigint").alias("n_band_pairs"),
                 (F.sum(F.abs(F.col("pa") - F.col("pb"))).cast("double")
                  / (10.0 * F.count(F.lit(1))))
                 .cast("decimal(18,6)").cast("double")
                 .alias("avg_abs_diff"))
            .orderBy("p_type"))


# ---- Binned forward-window range join (J17) ----------------------------------

REPEAT_WINDOW_DAYS = 30     # repeat purchase = next order within 30 days
RANGE_BIN_EPOCH = "1992-01-01"  # fixed epoch for the day-number grid


@query(
    "q_join_range_bin",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             date_diff('day', DATE '{RANGE_BIN_EPOCH}', o_orderdate) AS d
      FROM orders
    ),
    pairs AS (
      SELECT a.o_custkey,
             CAST(date_trunc('month', a.o_orderdate) AS DATE) AS month,
             b.d - a.d AS gap
      FROM o a JOIN o b
        ON a.o_custkey = b.o_custkey
       AND b.d > a.d AND b.d <= a.d + {REPEAT_WINDOW_DAYS}
    )
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(CAST(CAST(SUM(gap) AS DOUBLE) / COUNT(*)
                AS DECIMAL(18,6)) AS DOUBLE) AS avg_gap_days
    FROM pairs
    GROUP BY month
    ORDER BY month
    """,
    tags=("J17", "join", "range-bin"),
)
def q_join_range_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINNED FORWARD-WINDOW RANGE JOIN: per customer, order pairs
    where the second order lands within {REPEAT_WINDOW_DAYS} days of
    the first — the repeat-purchase join behind retention and
    reorder-rate reports, and the ASYMMETRIC date sibling of J16's
    symmetric ε-band (J8's as-of keeps one match per probe; this keeps
    ALL matches in the window). The naive plan is the per-key theta
    join the oracle states — fine when keys are selective, quadratic
    on a hot key. The engine plan applies the standard range-bin
    decomposition ON TOP of the equi key: day numbers on a fixed epoch
    grid, bins exactly {REPEAT_WINDOW_DAYS} days wide, the build side
    emits its own (custkey, bin), the probe side explodes
    {{bin−1, bin}} (a forward window one bin long can only reach back
    into the previous bin) — the join is pure EQUI on (custkey, bin),
    candidates are bounded by per-key-per-bin density, and a
    qualifying pair meets on exactly one key (the two probe bins are
    distinct), so no dedup stage exists.

    All-integer determinism: day numbers and bins are exact integer
    arithmetic from a fixed epoch DATE (both engines count calendar
    days between DATEs identically — no time component, no timezone);
    the window filter and gap are integer compares; one quantized
    division in the report. Same-date reorders are excluded by the
    strict lower bound (documented, deterministic)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.datediff(F.col("o_orderdate"),
                   F.lit(RANGE_BIN_EPOCH).cast("date")).alias("d"))
    bin_c = F.floor(F.col("d") / REPEAT_WINDOW_DAYS)
    a = o.select("o_custkey", F.col("o_orderdate").alias("a_date"),
                 F.col("d").alias("a_d"), bin_c.alias("bin"))
    b = o.select("o_custkey", F.col("d").alias("b_d"),
                 F.explode(F.array(bin_c - 1, bin_c)).alias("bin"))
    pairs = (a.join(b, ["o_custkey", "bin"])
             .where((F.col("b_d") > F.col("a_d"))
                    & (F.col("b_d") <= F.col("a_d") + REPEAT_WINDOW_DAYS))
             .select("o_custkey",
                     F.to_date(F.date_trunc("month", F.col("a_date")))
                     .alias("month"),
                     (F.col("b_d") - F.col("a_d")).alias("gap")))
    return (pairs.groupBy("month")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.countDistinct("o_custkey").cast("bigint")
                 .alias("n_customers"),
                 (F.sum("gap").cast("double") / F.count(F.lit(1)))
                 .cast("decimal(18,6)").cast("double")
                 .alias("avg_gap_days"))
            .orderBy("month"))
