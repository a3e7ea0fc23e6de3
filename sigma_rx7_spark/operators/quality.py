"""Data-quality audit (SURVEY.md §2.4 extension, Q1).

The reference trusts its bootstrap data wholesale (reference
README.md:36,55-58 seeds and never validates); a 100 TB warehouse gates
every ingest batch behind an expectation suite — null-rate, key
uniqueness, referential integrity, domain-range checks — and quarantines
batches that fail. This module is that gate as ONE query: a fixed
catalog of checks, each returning (check, n_violations, n_rows), so the
pass/fail policy is a trivial filter over a tiny result.

Scale posture:
- All single-table checks on a table share ONE scan: conditional
  aggregation (`sum(case when violated)`) folds every per-row predicate
  into the same partial/final hash aggregate — adding a check is free.
- Key-uniqueness reduces rows→keys before counting (shuffle carries the
  key column only).
- Referential integrity is a broadcast LEFT join from fact keys to the
  distinct dimension keys plus a conditional count — orphan count AND
  total row count fall out of one pass, and the fact table never
  shuffles (same posture as J1).
- Output is O(#checks) rows regardless of input size; the audit row
  count is what an orchestrator alerts on, so this query IS the circuit
  breaker in front of every downstream consumer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..materialize import share
from ..registry import query
from .aggregates import rank_select


def _violations(name: str, cond):
    """Conditional-aggregation violation counter: one CASE per check,
    all sharing the enclosing single-scan aggregate."""
    return F.sum(F.when(cond, 1).otherwise(0)).alias(name)


@query(
    "q_quality_audit",
    oracle="""
    WITH o AS (
      SELECT
        COUNT(*) AS n_rows,
        SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
        SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS nonpos_price,
        SUM(CASE WHEN o_orderdate > DATE '2030-12-31'
                   OR o_orderdate < DATE '1990-01-01'
                 THEN 1 ELSE 0 END) AS date_range
      FROM orders
    ), l AS (
      SELECT
        COUNT(*) AS n_rows,
        SUM(CASE WHEN l_quantity <= 0 OR l_quantity > 50
                 THEN 1 ELSE 0 END) AS qty_range,
        SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS neg_price,
        SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                 THEN 1 ELSE 0 END) AS discount_range
      FROM lineitem
    ), dup AS (
      -- n_rows falls out of the same key aggregation (sum of per-key
      -- counts) — no second scan of orders
      SELECT SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS n_dup_keys,
             SUM(c) AS n_rows
      FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
    ), orphan AS (
      -- left join + conditional count: one pass gives total AND orphans
      SELECT SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS n_orphans,
             COUNT(*) AS n_rows
      FROM lineitem l
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON l.l_orderkey = o.o_orderkey
    )
    SELECT 'orders_null_custkey' AS check,
           CAST(null_cust AS BIGINT) AS n_violations,
           CAST(n_rows AS BIGINT) AS n_rows FROM o
    UNION ALL
    SELECT 'orders_nonpositive_price', CAST(nonpos_price AS BIGINT),
           CAST(n_rows AS BIGINT) FROM o
    UNION ALL
    SELECT 'orders_date_out_of_range', CAST(date_range AS BIGINT),
           CAST(n_rows AS BIGINT) FROM o
    UNION ALL
    SELECT 'lineitem_quantity_range', CAST(qty_range AS BIGINT),
           CAST(n_rows AS BIGINT) FROM l
    UNION ALL
    SELECT 'lineitem_negative_price', CAST(neg_price AS BIGINT),
           CAST(n_rows AS BIGINT) FROM l
    UNION ALL
    SELECT 'lineitem_discount_range', CAST(discount_range AS BIGINT),
           CAST(n_rows AS BIGINT) FROM l
    UNION ALL
    SELECT 'orders_duplicate_pk', CAST(n_dup_keys AS BIGINT),
           CAST(n_rows AS BIGINT) FROM dup
    UNION ALL
    SELECT 'lineitem_orphan_orderkey', CAST(n_orphans AS BIGINT),
           CAST(n_rows AS BIGINT) FROM orphan
    """,
    tags=("Q1", "quality"),
)
def q_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY AUDIT: the ingest expectation suite as one query —
    null-rate, domain-range, primary-key-uniqueness, and referential-
    integrity checks over orders/lineitem, each reported as
    (check, n_violations, n_rows). All per-row checks on a table fold
    into a single conditional-aggregation scan; PK uniqueness reduces
    rows to keys before counting (and the table's row count falls out of
    the same aggregation); RI is a broadcast left join + conditional
    count whose dimension key side broadcasts at any realistic dim/fact
    ratio. Integer counts end to end — bit-exact across engines by
    construction."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    # ONE orders pass for ALL orders checks (r15, guide §1.2 step 1 /
    # §2.4): the per-row profile counters ride the SAME per-key
    # aggregation the PK check needs — per-key conditional sums roll up
    # to exactly the global conditional sums — and the key relation that
    # feeds the RI join is this aggregation's key column. The profile,
    # dup, and join-build subtrees all share one scan + one exchange
    # (ReusedExchange; previously three separate orders scans), which at
    # fact scale is the difference between auditing the table once and
    # three times. Integer counts throughout — bit-identical to the
    # flat-profile form by construction.
    per_key = orders.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("c"),
        _violations("v_null", F.col("o_custkey").isNull()),
        _violations("v_price", F.col("o_totalprice") <= 0),
        _violations("v_date",
                    (F.col("o_orderdate") > F.lit("2030-12-31").cast("date"))
                    | (F.col("o_orderdate")
                       < F.lit("1990-01-01").cast("date"))),
    )
    # r16 (VERDICT r15 item 2): the r15 fold stopped at the LOGICAL
    # sharing of per_key — Catalyst re-planned the shared subtree per
    # Union branch, so the executed plan still scanned orders 3x and
    # lineitem 2x. Sharing per_key and the two 1-row profiles makes
    # the executed work ONE orders pass + ONE lineitem pass. All
    # integer sums — bit-identical results.
    per_key = share(per_key)
    profile = share(per_key.agg(
        F.sum("c").alias("n_rows"),
        F.sum("v_null").alias("null_cust"),
        F.sum("v_price").alias("nonpos_price"),
        F.sum("v_date").alias("date_range"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_keys"),
    ))
    o_profile = profile.select("n_rows", "null_cust", "nonpos_price",
                               "date_range")
    dup = profile.select("n_dup_keys", "n_rows")
    # ONE lineitem pass for ALL lineitem checks: the per-row domain
    # profile rides the orphan join's aggregate (the join key relation —
    # read from the shared per_key — broadcasts; the extra measure
    # columns never shuffle), so lineitem is scanned once.
    orphan_profile = share(
        li.select("l_orderkey", "l_quantity", "l_extendedprice",
                  "l_discount")
        .join(per_key.select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .agg(
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .alias("n_orphans"),
            F.count(F.lit(1)).alias("n_rows"),  # total + orphans, one pass
            _violations("qty_range", (F.col("l_quantity") <= 0)
                        | (F.col("l_quantity") > 50)),
            _violations("neg_price", F.col("l_extendedprice") < 0),
            _violations("discount_range", (F.col("l_discount") < 0)
                        | (F.col("l_discount") > 1)),
        )
    )
    l_profile = orphan_profile.select(
        "n_rows", "qty_range", "neg_price", "discount_range")
    orphan = orphan_profile.select("n_orphans", "n_rows")

    def unpivot(src: DataFrame, checks: list[tuple[str, str]]) -> DataFrame:
        """Explode the 1-row profile into (check, n_violations, n_rows)
        rows INSIDE one plan branch, so the underlying scan+aggregate
        runs once (a union of per-check selects over the same aggregate
        would re-plan the scan per branch)."""
        pairs = F.array(*[
            F.struct(F.lit(name).alias("check"),
                     F.col(col).cast("long").alias("n_violations"))
            for name, col in checks
        ])
        return src.select(
            F.explode(pairs).alias("kv"),
            F.col("n_rows").cast("long").alias("n_rows"),
        ).select("kv.check", "kv.n_violations", "n_rows")

    return (
        unpivot(o_profile, [
            ("orders_null_custkey", "null_cust"),
            ("orders_nonpositive_price", "nonpos_price"),
            ("orders_date_out_of_range", "date_range"),
        ])
        .unionAll(unpivot(l_profile, [
            ("lineitem_quantity_range", "qty_range"),
            ("lineitem_negative_price", "neg_price"),
            ("lineitem_discount_range", "discount_range"),
        ]))
        .unionAll(unpivot(dup, [("orders_duplicate_pk", "n_dup_keys")]))
        .unionAll(unpivot(orphan,
                          [("lineitem_orphan_orderkey", "n_orphans")]))
    )


@query(
    "q_quality_freshness",
    oracle="""
    WITH per_type AS (
      SELECT event_type,
             MAX(CAST(ts AS TIMESTAMP)) AS last_ts,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY event_type
    ), ref AS (
      SELECT MAX(last_ts) AS newest FROM per_type
    )
    SELECT p.event_type, p.last_ts, p.n_rows,
           CAST(epoch_us(r.newest) - epoch_us(p.last_ts) AS BIGINT)
             AS lag_us,
           epoch_us(r.newest) - epoch_us(p.last_ts) > 3600000000
             AS is_stale
    FROM per_type p CROSS JOIN ref r
    """,
    tags=("Q1", "quality", "freshness"),
)
def q_quality_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGESTION-FRESHNESS AUDIT: per source (event type), the latest
    event time, its lag in µs behind the newest source, and a >1 h
    staleness flag — the feed-health observability check an
    orchestrator runs beside q_quality_audit's content checks (a silent
    upstream stall shows up here first, long before row counts drift).
    The reference lag is the corpus-internal newest timestamp rather
    than wall-clock now(), which keeps the check deterministic AND
    correct on backfills (relative staleness is what pages someone).

    Scale shape: one conditional max/count aggregation per source (the
    shuffle carries one row per source), the newest-overall scalar
    broadcasts back; integer-µs arithmetic end to end."""
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    ref = per_type.agg(F.max("last_ts").alias("newest"))
    lag = F.unix_micros("newest") - F.unix_micros("last_ts")
    return (
        per_type.crossJoin(F.broadcast(ref))
        .select(
            "event_type", "last_ts", "n_rows",
            lag.cast("bigint").alias("lag_us"),
            (lag > 3600_000_000).alias("is_stale"),
        )
    )


# ---- Distribution drift (PSI) --------------------------------------------

PSI_BUCKETS = 10
_PSI_CUTOFF = "2024-01-16 00:00:00"  # = incremental.MERGE_CUTOFF


@query(
    "q_quality_psi",
    oracle=f"""
    WITH a AS (
      SELECT value, event_id FROM events
      WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{_PSI_CUTOFF}'
    ), b AS (
      SELECT value FROM events
      WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{_PSI_CUTOFF}'
    ), dec AS (
      SELECT bucket, MAX(value) AS hi FROM (
        SELECT value,
               NTILE({PSI_BUCKETS}) OVER (ORDER BY value, event_id)
                 AS bucket
        FROM a)
      GROUP BY bucket
    ), cuts AS (
      SELECT {', '.join(
          f"MAX(CASE WHEN bucket = {k} THEN hi END) AS c{k}"
          for k in range(1, PSI_BUCKETS))}
      FROM dec
    ), asg_a AS (
      SELECT 1 {' '.join(f"+ CAST(a.value > cuts.c{k} AS INT)"
                         for k in range(1, PSI_BUCKETS))} AS bucket
      FROM a, cuts
    ), asg_b AS (
      SELECT 1 {' '.join(f"+ CAST(b.value > cuts.c{k} AS INT)"
                         for k in range(1, PSI_BUCKETS))} AS bucket
      FROM b, cuts
    ), na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM asg_a),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM asg_b),
    ca AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_a
           FROM asg_a GROUP BY bucket),
    cb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_b
           FROM asg_b GROUP BY bucket),
    grid AS (SELECT CAST(unnest(range(1, {PSI_BUCKETS + 1})) AS INT)
               AS bucket)
    SELECT g.bucket,
           COALESCE(ca.n_a, 0) AS n_a,
           COALESCE(cb.n_b, 0) AS n_b,
           (COALESCE(ca.n_a, 0) + 1.0)
             / ((SELECT n FROM na) + {PSI_BUCKETS}) AS p_a,
           (COALESCE(cb.n_b, 0) + 1.0)
             / ((SELECT n FROM nb) + {PSI_BUCKETS}) AS p_b,
           ((COALESCE(cb.n_b, 0) + 1.0)
              / ((SELECT n FROM nb) + {PSI_BUCKETS})
            - (COALESCE(ca.n_a, 0) + 1.0)
              / ((SELECT n FROM na) + {PSI_BUCKETS}))
           * CAST(CAST(ln(
               ((COALESCE(cb.n_b, 0) + 1.0)
                  / ((SELECT n FROM nb) + {PSI_BUCKETS}))
               / ((COALESCE(ca.n_a, 0) + 1.0)
                  / ((SELECT n FROM na) + {PSI_BUCKETS})))
             AS DECIMAL(18,6)) AS DOUBLE) AS psi_term
    FROM grid g
    LEFT JOIN ca ON g.bucket = ca.bucket
    LEFT JOIN cb ON g.bucket = cb.bucket
    """,
    tags=("Q3", "quality", "drift"),
)
def q_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX — distribution-drift monitoring
    between a reference batch (pre-cutoff events) and a comparison
    batch (post-cutoff): decile edges learned from the reference's
    exact equi-depth cutpoints, both batches re-bucketed under the SAME
    edge rule (1 + #edges-below), Laplace-smoothed proportions, and the
    per-bucket PSI term (p_b − p_a)·ln(p_b/p_a). Σ terms < 0.1 is the
    classic "stable" gate; this is the audit that catches silent
    upstream shifts before they poison training data or scoring
    models.

    Scale shape: edges are a {PSI_BUCKETS}-value single-row relation
    (broadcast); assignment is a pure per-row expression (no join per
    edge — one conditional sum); counts are one aggregate per batch;
    the ntile edge-learning runs once over the reference batch only
    (the documented equi-depth exactness anchor; at 100 TB the edges
    come from approx_percentile with the same downstream algebra). ln
    is 6-dp-quantized (compat hazard 2); smoothing keeps empty buckets
    finite on both sides identically."""
    from .incremental import MERGE_CUTOFF

    ev = load(spark, sf_dir, "events")
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    a = ev.where(F.col("ts") < cutoff).select("value", "event_id")
    b = ev.where(F.col("ts") >= cutoff).select("value")
    dec = (
        a.select("value",
                 F.ntile(PSI_BUCKETS)
                 .over(Window.orderBy("value", "event_id"))
                 .alias("bucket"))
        .groupBy("bucket").agg(F.max("value").alias("hi"))
    )
    # 1 row; consumed by BOTH assignment passes — without sharing the
    # reference batch gets ntile-sorted twice (plan-asserted)
    cuts = share(dec.agg(*[
        F.max(F.when(F.col("bucket") == k, F.col("hi"))).alias(f"c{k}")
        for k in range(1, PSI_BUCKETS)
    ]))
    bucket_expr = sum(
        (F.col(f"c{k}") < F.col("value")).cast("int")
        for k in range(1, PSI_BUCKETS)) + F.lit(1)
    asg_a = a.crossJoin(F.broadcast(cuts)).select(
        bucket_expr.alias("bucket"))
    asg_b = b.crossJoin(F.broadcast(cuts)).select(
        bucket_expr.alias("bucket"))
    na = asg_a.agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    nb = asg_b.agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    ca = asg_a.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"))
    cb = asg_b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"))
    grid = spark.range(1, PSI_BUCKETS + 1).select(
        F.col("id").cast("int").alias("bucket"))
    j = (
        grid.join(ca, "bucket", "left").join(cb, "bucket", "left")
        .crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb))
        .select(
            "bucket",
            F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
            "na", "nb")
    )
    p_a = (F.col("n_a") + 1.0) / (F.col("na") + PSI_BUCKETS)
    p_b = (F.col("n_b") + 1.0) / (F.col("nb") + PSI_BUCKETS)
    return j.select(
        "bucket", "n_a", "n_b",
        p_a.alias("p_a"), p_b.alias("p_b"),
        ((p_b - p_a) * F.log(p_b / p_a).cast("decimal(18,6)")
         .cast("double")).alias("psi_term"),
    )


# ---- Seasonal-baseline anomaly screen ------------------------------------

SEASONAL_Z = 3.0


@query(
    "q_anomaly_seasonal",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
             CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events
      GROUP BY 1, 2, 3
    ), base AS (
      SELECT event_type, hod,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(n_events) AS DOUBLE) AS s1,
             CAST(SUM(n_events * n_events) AS DOUBLE) AS s2
      FROM hourly GROUP BY 1, 2
    )
    SELECT h.event_type, h.hour_start, h.n_events,
           b.s1 / b.n_hours AS expected,
           CASE WHEN b.n_hours > 1
                     AND (b.s2 - b.s1 * b.s1 / b.n_hours)
                         / (b.n_hours - 1) > 0
                THEN (h.n_events - b.s1 / b.n_hours)
                     / sqrt((b.s2 - b.s1 * b.s1 / b.n_hours)
                            / (b.n_hours - 1))
                ELSE 0.0 END AS z,
           CASE WHEN b.n_hours > 1
                     AND (b.s2 - b.s1 * b.s1 / b.n_hours)
                         / (b.n_hours - 1) > 0
                THEN abs((h.n_events - b.s1 / b.n_hours)
                         / sqrt((b.s2 - b.s1 * b.s1 / b.n_hours)
                                / (b.n_hours - 1))) > {SEASONAL_Z}
                ELSE FALSE END AS is_anomaly
    FROM hourly h JOIN base b
      ON h.event_type = b.event_type AND h.hod = b.hod
    """,
    tags=("A14", "quality", "seasonal"),
)
def q_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALITY-AWARE anomaly screen: hourly event counts scored
    against the baseline for THAT hour-of-day (per event type) — the
    diurnal-profile upgrade of q_agg_anomaly's global z-score, which
    would flag every 3 a.m. trough and miss a quiet noon. Every
    statistic derives from INTEGER sufficient statistics (counts,
    Σc, Σc²) so no decimal machinery is needed: identical IEEE
    division/sqrt on identical integers is engine-exact, and the
    degenerate cells (single hour or zero variance) are pinned to
    z = 0 rather than NaN (engines disagree about NaN propagation long
    before they disagree about arithmetic). Scale shape: corpus
    collapses to (type, hour) cells in one hash agg; the baseline is a
    (type × 24)-row relation broadcast back onto the cells."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type",
                   F.date_trunc("hour", "ts").alias("hour_start"),
                   F.hour("ts").cast("int").alias("hod"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    base = hourly.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("n_events").cast("double").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("double")
        .alias("s2"))
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_hours")) \
        / (F.col("n_hours") - 1)
    ok = (F.col("n_hours") > 1) & (var > 0)
    mean = F.col("s1") / F.col("n_hours")
    z = F.when(ok, (F.col("n_events") - mean) / F.sqrt(var)) \
        .otherwise(F.lit(0.0))
    return (
        hourly.join(F.broadcast(base), ["event_type", "hod"])
        .select("event_type", "hour_start", "n_events",
                mean.alias("expected"), z.alias("z"),
                F.when(ok, F.abs(z) > SEASONAL_Z)
                .otherwise(F.lit(False)).alias("is_anomaly"))
    )


# ---- Sequence-integrity audit (ingestion gap/duplicate check) ------------


@query(
    "q_quality_sequence",
    oracle="""
    WITH pe AS (
      SELECT user_id, event_id,
             COUNT(*) AS n_copies
      FROM events GROUP BY user_id, event_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_ids,
           CAST(MIN(event_id) AS BIGINT) AS id_min,
           CAST(MAX(event_id) AS BIGINT) AS id_max,
           CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_duplicates,
           CAST(MAX(event_id) - MIN(event_id) + 1 - COUNT(*) AS BIGINT)
             AS n_gaps
    FROM pe
    GROUP BY user_id
    """,
    tags=("quality", "sequence", "ingestion"),
)
def q_quality_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-INTEGRITY AUDIT: per producer (user), distinct-id
    count, id range, duplicate copies, and GAPS in the id space
    (range-width minus distinct count) — the exactly-once ingestion
    check for feeds that promise dense monotonic ids: gaps mean lost
    messages, duplicates mean replays, and both are pure integer
    arithmetic from two hash aggregates sharing one (user, id)
    partitioning. This is the cheap invariant a 100 TB/day pipeline
    checks per ingest window BEFORE reconciling against the source;
    the per-user gap counts here are nonzero by construction (ids are
    globally dense, per-user sparse), which exercises the arithmetic
    at both extremes."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id")
    pe = ev.groupBy("user_id", "event_id").agg(
        F.count(F.lit(1)).alias("n_copies"))
    return (
        pe.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ids"),
             F.min("event_id").cast("bigint").alias("id_min"),
             F.max("event_id").cast("bigint").alias("id_max"),
             (F.sum("n_copies") - F.count(F.lit(1))).cast("bigint")
             .alias("n_duplicates"),
             (F.max("event_id") - F.min("event_id") + 1
              - F.count(F.lit(1))).cast("bigint").alias("n_gaps"))
    )


# ---- Benford first-digit screen ------------------------------------------


@query(
    "q_quality_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), cnt AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ), tot AS (SELECT SUM(n) AS t FROM cnt)
    SELECT digit,
           CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / (SELECT t FROM tot) AS observed,
           CAST(CAST(log10(1.0 + 1.0 / digit) AS DECIMAL(18,6))
                AS DOUBLE) AS expected
    FROM cnt
    """,
    tags=("quality", "benford"),
)
def q_quality_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD FIRST-DIGIT SCREEN: observed vs expected leading-digit
    frequencies of order totals — the forensic-accounting test for
    fabricated or truncated monetary data (organic multiplicative
    amounts follow log10(1+1/d); synthetic-uniform data, like this
    harness's, flunks it visibly — which is itself the point of
    shipping observed AND expected side by side). First digits come
    from the DECIMAL(18,2) string form so both engines see identical
    text (raw double formatting differs); expected frequencies pass
    through the 6-dp log quantization. One scan, a 9-row aggregate,
    and a broadcast total."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        1, 1).cast("int")
    cnt = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n"))
    tot = cnt.agg(F.sum("n").alias("t"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select("digit", F.col("n").cast("bigint").alias("n"),
                (F.col("n").cast("double") / F.col("t"))
                .alias("observed"),
                F.log10(1.0 + 1.0 / F.col("digit"))
                .cast("decimal(18,6)").cast("double").alias("expected"))
    )


# ---- Column-profile audit (per-column fill/cardinality) ------------------

_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderpriority", "o_orderdate")


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(COUNT(DISTINCT {c}) AS DOUBLE) / COUNT(*)
             AS cardinality_ratio
    FROM orders""")
    return " UNION ALL ".join(parts)


@query("q_quality_profile", oracle=_profile_oracle(),
       tags=("quality", "profile"))
def q_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN PROFILE: per-column row/null/distinct counts and
    cardinality ratio for the orders table, unpivoted to one row per
    column — the table-shape summary every catalog/expectation tool
    (and every ANALYZE, cf. the CBO test) starts from: near-1.0
    cardinality flags key candidates, near-0 flags categorical dims,
    and null counts are the contract check. One scan computes every
    column's statistics in a single aggregate (count + count(col) +
    count_distinct(col) per column side by side); the unpivot is a
    stack() over the 1-row result — at 100 TB this is one pass
    regardless of column count."""
    o = load(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__dist"),
        ]
    one = o.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__dist" for c in _PROFILE_COLS)
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_expr}) AS "
        "(column_name, n_rows, n_null, n_distinct)"
    ).select(
        "column_name",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_null").cast("bigint").alias("n_null"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        # Zero-row table: a profile over nothing reports NULL ratio
        # rather than crashing the catalog job under ANSI mode.
        F.when(F.col("n_rows") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("n_distinct").cast("double") / F.col("n_rows"))
        .alias("cardinality_ratio"))


# ---- Cross-table temporal integrity --------------------------------------


@query(
    "q_quality_temporal",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN CAST(l.l_shipdate AS TIMESTAMP)
                              < CAST(o.o_orderdate AS TIMESTAMP)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ship_before_order,
           CAST(SUM(CASE WHEN CAST(l.l_shipdate AS TIMESTAMP)
                              < CAST(o.o_orderdate AS TIMESTAMP)
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS violation_rate
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    """,
    tags=("quality", "temporal-integrity"),
)
def q_quality_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE TEMPORAL INTEGRITY: lineitems shipped BEFORE their
    order existed, per order status — the causality rule (child event
    ≥ parent event) that catches timezone mishandling, backdated
    loads, and clock-skewed producers, and that single-table checks
    (Q7's sequence audit, the per-table profile) cannot see. The
    harness data violates it on purpose-like scale (~5% of lines),
    which is the realistic shape: this check reports rates for
    triage, it doesn't assert zero. One fact-fact equi join keyed on
    the FK (the only shuffle) + conditional counts."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    viol = F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1) \
        .otherwise(0)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"),
             F.sum(viol).cast("bigint").alias("n_ship_before_order"),
             (F.sum(viol).cast("double") / F.count(F.lit(1)))
             .alias("violation_rate"))
    )


# ---- Header/detail reconciliation ----------------------------------------


@query(
    "q_quality_reconcile",
    oracle="""
    WITH lines AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6)))
                  AS DOUBLE) AS line_total
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN abs(o.o_totalprice - l.line_total)
                              > 0.01 * o.o_totalprice
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           CAST(SUM(CASE WHEN l.line_total IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_headerless_lines
    FROM orders o LEFT JOIN lines l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    """,
    tags=("quality", "reconciliation"),
)
def q_quality_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADER/DETAIL RECONCILIATION: order headers whose total disagrees
    with the exact-decimal sum of their lines beyond 1% — the
    financial-close consistency check between an aggregate column and
    the rows it claims to summarize (a mismatch means a partial load,
    a price-revision half-applied, or a currency slip; orders with no
    lines at all surface separately). Line totals collapse per order
    BEFORE the join (one FK-keyed aggregate + one join, never
    order×line pair volume); the tolerance comparison is IEEE on an
    exact-decimal-derived double."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    from ..compat import q as qd
    lines = load(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey")).agg(
        F.sum(qd("l_extendedprice")).cast("double").alias("line_total"))
    j = o.join(lines, o.o_orderkey == lines.l_orderkey, "left")
    mism = F.when(
        F.abs(F.col("o_totalprice") - F.col("line_total"))
        > 0.01 * F.col("o_totalprice"), 1).otherwise(0)
    return (
        j.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
             F.sum(mism).cast("bigint").alias("n_mismatched"),
             F.sum(F.when(F.col("line_total").isNull(), 1).otherwise(0))
             .cast("bigint").alias("n_headerless_lines"))
    )


# ---- k-anonymity audit (Q12) ----------------------------------------------

KANON_K = 5          # minimum acceptable equivalence-class size
KANON_BAND = 2000.0  # account-balance band width (quasi-identifier 3)


@query(
    "q_quality_kanon",
    oracle=f"""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / {KANON_BAND}) AS BIGINT) AS bal_band,
             COUNT(*) AS class_size
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT CAST(MIN(class_size) AS BIGINT) AS k_anonymity,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN class_size < {KANON_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_classes_below_k,
           CAST(SUM(CASE WHEN class_size < {KANON_K} THEN class_size
                    ELSE 0 END) AS BIGINT) AS n_rows_below_k,
           CAST(SUM(CASE WHEN class_size < {KANON_K} THEN class_size
                    ELSE 0 END) AS DOUBLE)
             / SUM(class_size) AS at_risk_rate
    FROM classes
    """,
    tags=("quality", "privacy", "k-anonymity"),
)
def q_quality_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY AUDIT over the customer quasi-identifiers
    (nation, market segment, account-balance band): the re-identification
    screen a training-data release gate runs before publishing any
    person-adjacent table — a record is at risk when its quasi-identifier
    combination is shared by fewer than K rows, because an attacker who
    knows those attributes can narrow the subject to a tiny set. Reports
    the dataset's realized k (the smallest equivalence class), how many
    classes and rows fall below the K=5 policy floor, and the at-risk
    row fraction the release gate thresholds on.

    Scale shape: one hash group-by over the QI tuple (shuffle carries the
    QI columns + a count), then an O(#classes) single-row aggregate —
    the audit never materializes per-row risk labels, so it costs the
    same as any cardinality profile at 100 TB. The balance band is a
    fixed-width floor-divide (exact IEEE, engine-identical); the risk
    rate is one bigint-ratio division cast to double (correctly rounded,
    deterministic cross-engine).
    """
    c = load(spark, sf_dir, "customer")
    classes = (
        c.groupBy(
            "c_nationkey", "c_mktsegment",
            F.floor(F.col("c_acctbal") / KANON_BAND).cast("bigint")
            .alias("bal_band"))
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    below = F.when(F.col("class_size") < KANON_K, F.col("class_size"))
    return classes.agg(
        F.min("class_size").cast("bigint").alias("k_anonymity"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum(F.when(F.col("class_size") < KANON_K, 1).otherwise(0))
        .cast("bigint").alias("n_classes_below_k"),
        F.sum(F.coalesce(below, F.lit(0))).cast("bigint")
        .alias("n_rows_below_k"),
        (F.sum(F.coalesce(below, F.lit(0))).cast("double")
         / F.sum("class_size")).alias("at_risk_rate"),
    )


# ---- Kolmogorov-Smirnov two-sample drift test (Q13) -------------------------

_KS_CUTOFF = _PSI_CUTOFF  # same before/after split as the PSI screen


@query(
    "q_drift_ks",
    oracle=f"""
    WITH tagged AS (
      SELECT value AS v,
             CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{_KS_CUTOFF}'
                  THEN 1 ELSE 0 END AS in_a
      FROM events
    ),
    per_value AS (
      SELECT v, SUM(in_a) AS c_a, SUM(1 - in_a) AS c_b
      FROM tagged GROUP BY v
    ),
    cum AS (
      SELECT SUM(c_a) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_a,
             SUM(c_b) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_b,
             SUM(c_a) OVER () AS n_a,
             SUM(c_b) OVER () AS n_b
      FROM per_value
    )
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(MAX(abs(n_b * cum_a - n_a * cum_b)) AS BIGINT) AS d_num,
           CASE WHEN MAX(n_a) = 0 OR MAX(n_b) = 0 THEN NULL ELSE
             CAST(MAX(abs(n_b * cum_a - n_a * cum_b)) AS DOUBLE)
               / (MAX(n_a) * MAX(n_b)) END AS ks_d,
           CASE WHEN MAX(n_a) = 0 OR MAX(n_b) = 0 THEN NULL ELSE
             CAST(CAST(
               CAST(MAX(abs(n_b * cum_a - n_a * cum_b)) AS DOUBLE)
               / (MAX(n_a) * MAX(n_b))
               * sqrt(CAST(MAX(n_a) AS DOUBLE) * MAX(n_b)
                      / (MAX(n_a) + MAX(n_b)))
               AS DECIMAL(18,6)) AS DOUBLE) END AS ks_stat
    FROM cum
    """,
    tags=("Q13", "drift", "ks-test"),
)
def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KOLMOGOROV-SMIRNOV TWO-SAMPLE TEST between the before/after
    halves of the event-value stream (same cutoff as the PSI screen):
    D = max ECDF gap. PSI answers "how much did the binned distribution
    move" with a bin-sensitive score; KS is the bin-free exact
    complement whose null distribution is known, so it closes the drift
    family (PSI: magnitude, KS: significance) the way A41/A43/A44 close
    the A/B family. The ECDF gap is kept INTEGER: the numerator
    |n_b*cum_a - n_a*cum_b| is exact bigint at every distinct value, so
    the argmax never compares floats; D and the scaled KS statistic
    divide once at the end (quantized — sqrt is in the chain).

    Scale shape: identical to the Mann-Whitney trick — collapse to
    DISTINCT values with per-half counts, one prefix-sum window over
    the value-cardinality-bounded relation, one max. No row-level rank,
    no global sort of raw events."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    tagged = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("ts") < F.lit(_KS_CUTOFF).cast("timestamp"), 1)
        .otherwise(0).alias("in_a"))
    per_value = tagged.groupBy("v").agg(
        F.sum("in_a").alias("c_a"),
        F.sum(1 - F.col("in_a")).alias("c_b"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    cum = per_value.select(
        F.sum("c_a").over(wv).alias("cum_a"),
        F.sum("c_b").over(wv).alias("cum_b"),
        F.sum("c_a").over(wall).alias("n_a"),
        F.sum("c_b").over(wall).alias("n_b"))
    num = F.abs(F.col("n_b") * F.col("cum_a")
                - F.col("n_a") * F.col("cum_b"))
    agg = cum.agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
                  F.max(num).alias("d_num"))
    n_a, n_b, d_num = F.col("n_a"), F.col("n_b"), F.col("d_num")
    # Degenerate guard (mirrors q_ab_mannwhitney): with every event on
    # one side of the cutoff the denominator is 0 — NULL, not 0/0,
    # identically on both engines (Spark ANSI would otherwise raise).
    degenerate = (n_a == 0) | (n_b == 0)
    ks_d = d_num.cast("double") / (n_a * n_b)
    ks_stat = ks_d * F.sqrt(n_a.cast("double") * n_b / (n_a + n_b))
    from ..compat import QDEC
    return agg.select(
        n_a.cast("bigint").alias("n_a"),
        n_b.cast("bigint").alias("n_b"),
        d_num.cast("bigint").alias("d_num"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(ks_d).alias("ks_d"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(ks_stat.cast(QDEC).cast("double")).alias("ks_stat"))


# ---- 1-D Wasserstein (earth-mover) drift distance (Q14) ---------------------

_W1_CUTOFF = _PSI_CUTOFF  # same before/after split as the PSI/KS screens


@query(
    "q_drift_wasserstein",
    oracle=f"""
    WITH tagged AS (
      SELECT value AS v,
             CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{_W1_CUTOFF}'
                  THEN 1 ELSE 0 END AS in_a
      FROM events WHERE value IS NOT NULL
    ),
    per_value AS (
      SELECT v, SUM(in_a) AS c_a, SUM(1 - in_a) AS c_b
      FROM tagged GROUP BY v
    ),
    cum AS (
      SELECT v,
             SUM(c_a) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_a,
             SUM(c_b) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_b,
             LEAD(v) OVER (ORDER BY v) AS v_next,
             SUM(c_a) OVER () AS n_a,
             SUM(c_b) OVER () AS n_b
      FROM per_value
    ),
    terms AS (
      SELECT n_a, n_b,
             CAST(abs(CAST(cum_a AS DOUBLE) / n_a
                      - CAST(cum_b AS DOUBLE) / n_b)
                  * (v_next - v) AS DECIMAL(27,9)) AS seg
      FROM cum WHERE v_next IS NOT NULL AND n_a > 0 AND n_b > 0
    )
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CASE WHEN MAX(n_a) IS NULL THEN NULL
                ELSE CAST(COALESCE(SUM(seg), 0) AS DOUBLE) END
             AS wasserstein_1
    FROM terms
    """,
    tags=("Q14", "drift", "wasserstein"),
)
def q_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D WASSERSTEIN (EARTH-MOVER) DISTANCE between the before/after
    halves of the event-value stream — the third member of the drift
    family: PSI reports binned magnitude, KS the worst-point ECDF gap,
    W1 the AREA between the ECDFs (|F_a - F_b| integrated over the
    merged support), the only one of the three that scales with HOW FAR
    mass moved, not just that it moved — the property that makes it the
    standard embedding/feature drift metric.

    Exactness discipline: each segment |cum_a/n_a - cum_b/n_b| *
    (v_next - v) is deterministic IEEE per distinct value; segments are
    quantized to the 9-dp decimal grid BEFORE summation so the total is
    partial/final-order-insensitive (the compat rule for sums of
    floats). Degenerate one-sided streams (n_a or n_b = 0) drop every
    segment and report NULL.

    Scale shape — identical to KS/MWU: collapse to DISTINCT values with
    per-half counts, one prefix-sum/lead window over the
    value-cardinality-bounded relation, one final sum. No row-level
    sort of raw events anywhere."""
    ev = load(spark, sf_dir, "events")
    # NULL values carry no ECDF mass, and the engines disagree on NULL
    # sort position (Spark NULLS FIRST vs DuckDB NULLS LAST) — drop them
    # before the per-value collapse on BOTH sides (r9 advice).
    tagged = ev.where(F.col("value").isNotNull()).select(
        F.col("value").alias("v"),
        F.when(F.col("ts") < F.lit(_W1_CUTOFF).cast("timestamp"), 1)
        .otherwise(0).alias("in_a"))
    per_value = tagged.groupBy("v").agg(
        F.sum("in_a").alias("c_a"),
        F.sum(1 - F.col("in_a")).alias("c_b"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    wl = Window.orderBy("v")
    cum = per_value.select(
        "v",
        F.sum("c_a").over(wv).alias("cum_a"),
        F.sum("c_b").over(wv).alias("cum_b"),
        F.lead("v").over(wl).alias("v_next"),
        F.sum("c_a").over(wall).alias("n_a"),
        F.sum("c_b").over(wall).alias("n_b"))
    n_a, n_b = F.col("n_a"), F.col("n_b")
    seg = (F.abs(F.col("cum_a").cast("double") / n_a
                 - F.col("cum_b").cast("double") / n_b)
           * (F.col("v_next") - F.col("v"))).cast("decimal(27,9)")
    terms = cum.where(F.col("v_next").isNotNull()
                      & (n_a > 0) & (n_b > 0)) \
        .select(n_a, n_b, seg.alias("seg"))
    return terms.agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        F.when(F.max("n_a").isNull(), F.lit(None).cast("double"))
        .otherwise(F.coalesce(F.sum("seg"),
                              F.lit(0).cast("decimal(27,9)"))
                   .cast("double")).alias("wasserstein_1"))


# ---- Column-level profile drift sweep (Q15) ---------------------------------

_DRIFT_CUTOFF = _PSI_CUTOFF
DRIFT_NULL_RATE_TOL = 0.02   # absolute null-rate shift that flags
DRIFT_MEAN_REL_TOL = 0.10    # relative mean shift that flags


@query(
    "q_quality_profile_drift",
    oracle=f"""
    WITH halves AS (
      SELECT CASE WHEN CAST(ts AS TIMESTAMP)
                       < TIMESTAMP '{_DRIFT_CUTOFF}'
                  THEN 0 ELSE 1 END AS half,
             user_id, event_type, value
      FROM events
    ),
    prof AS (
      SELECT half, COUNT(*) AS n,
             SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS nn_uid,
             SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nn_val,
             COUNT(DISTINCT event_type) AS nd_type,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS s_val
      FROM halves GROUP BY half
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN half = 0 THEN n END) AS n_a,
        MAX(CASE WHEN half = 1 THEN n END) AS n_b,
        MAX(CASE WHEN half = 0 THEN nn_uid END) AS nnu_a,
        MAX(CASE WHEN half = 1 THEN nn_uid END) AS nnu_b,
        MAX(CASE WHEN half = 0 THEN nn_val END) AS nnv_a,
        MAX(CASE WHEN half = 1 THEN nn_val END) AS nnv_b,
        MAX(CASE WHEN half = 0 THEN nd_type END) AS nd_a,
        MAX(CASE WHEN half = 1 THEN nd_type END) AS nd_b,
        MAX(CASE WHEN half = 0 THEN s_val END) AS s_a,
        MAX(CASE WHEN half = 1 THEN s_val END) AS s_b
      FROM prof
    ),
    metrics AS (
      SELECT 'user_id_null_rate' AS metric,
             CAST(nnu_a AS DOUBLE) / n_a AS before_v,
             CAST(nnu_b AS DOUBLE) / n_b AS after_v,
             abs(CAST(nnu_b AS DOUBLE) / n_b
                 - CAST(nnu_a AS DOUBLE) / n_a)
               > CAST({DRIFT_NULL_RATE_TOL} AS DOUBLE) AS drifted
      FROM wide WHERE n_a IS NOT NULL AND n_b IS NOT NULL
      UNION ALL
      SELECT 'value_null_rate',
             CAST(nnv_a AS DOUBLE) / n_a,
             CAST(nnv_b AS DOUBLE) / n_b,
             abs(CAST(nnv_b AS DOUBLE) / n_b
                 - CAST(nnv_a AS DOUBLE) / n_a)
               > CAST({DRIFT_NULL_RATE_TOL} AS DOUBLE)
      FROM wide WHERE n_a IS NOT NULL AND n_b IS NOT NULL
      UNION ALL
      SELECT 'event_type_distinct',
             CAST(nd_a AS DOUBLE), CAST(nd_b AS DOUBLE),
             nd_a <> nd_b
      FROM wide WHERE n_a IS NOT NULL AND n_b IS NOT NULL
      UNION ALL
      SELECT 'value_mean',
             s_a / (n_a - nnv_a),
             s_b / (n_b - nnv_b),
             CASE WHEN s_a = 0 THEN s_b <> 0
                  ELSE abs(s_b / (n_b - nnv_b) / (s_a / (n_a - nnv_a))
                           - 1.0)
                       > CAST({DRIFT_MEAN_REL_TOL} AS DOUBLE) END
      FROM wide
      WHERE n_a IS NOT NULL AND n_b IS NOT NULL
        AND n_a - nnv_a > 0 AND n_b - nnv_b > 0
    )
    SELECT metric,
           CAST(CAST(before_v AS DECIMAL(18,6)) AS DOUBLE) AS before_v,
           CAST(CAST(after_v AS DECIMAL(18,6)) AS DOUBLE) AS after_v,
           drifted
    FROM metrics
    """,
    tags=("Q15", "drift", "profile"),
)
def q_quality_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-PROFILE DRIFT SWEEP: the cheap schema-health complement to
    the value-distribution drift family (PSI/KS/W1 watch ONE metric's
    distribution; this watches EVERY column's profile) — null rates,
    categorical cardinality, and mean compared between the before/after
    halves, one row per metric with a drift flag at fixed tolerances.
    This is the screen that catches "the upstream team made user_id
    nullable" or "a new event_type appeared" before any statistic does.

    Both halves profile in ONE conditional-aggregation scan (the
    q_quality_audit posture — adding a column is free); the metric rows
    derive from the single 2-row profile. Ratios quantize to the 6-dp
    grid; the flags compare IEEE doubles built from exact counts, so
    both engines decide identically. Halves with no rows drop out
    (NULL-guarded) rather than dividing by zero."""
    from ..compat import QDEC

    e = load(spark, sf_dir, "events")
    halves = e.select(
        F.when(F.col("ts") < F.lit(_DRIFT_CUTOFF).cast("timestamp"), 0)
        .otherwise(1).alias("half"),
        "user_id", "event_type", "value")
    prof = halves.groupBy("half").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .alias("nn_uid"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .alias("nn_val"),
        F.countDistinct("event_type").alias("nd_type"),
        F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
        .alias("s_val"))

    def side(h: int, c: str):
        return F.max(F.when(F.col("half") == h, F.col(c)))
    wide = prof.agg(
        side(0, "n").alias("n_a"), side(1, "n").alias("n_b"),
        side(0, "nn_uid").alias("nnu_a"), side(1, "nn_uid").alias("nnu_b"),
        side(0, "nn_val").alias("nnv_a"), side(1, "nn_val").alias("nnv_b"),
        side(0, "nd_type").alias("nd_a"), side(1, "nd_type").alias("nd_b"),
        side(0, "s_val").alias("s_a"), side(1, "s_val").alias("s_b"))
    both = F.col("n_a").isNotNull() & F.col("n_b").isNotNull()
    n_a, n_b = F.col("n_a"), F.col("n_b")
    rows = []
    for name, num_a, num_b in (
            ("user_id_null_rate", F.col("nnu_a"), F.col("nnu_b")),
            ("value_null_rate", F.col("nnv_a"), F.col("nnv_b"))):
        b, a = num_a.cast("double") / n_a, num_b.cast("double") / n_b
        rows.append(wide.where(both).select(
            F.lit(name).alias("metric"), b.alias("before_v"),
            a.alias("after_v"),
            (F.abs(a - b) > DRIFT_NULL_RATE_TOL).alias("drifted")))
    rows.append(wide.where(both).select(
        F.lit("event_type_distinct").alias("metric"),
        F.col("nd_a").cast("double").alias("before_v"),
        F.col("nd_b").cast("double").alias("after_v"),
        (F.col("nd_a") != F.col("nd_b")).alias("drifted")))
    mean_a = F.col("s_a") / (n_a - F.col("nnv_a"))
    mean_b = F.col("s_b") / (n_b - F.col("nnv_b"))
    rows.append(
        wide.where(both & (n_a - F.col("nnv_a") > 0)
                   & (n_b - F.col("nnv_b") > 0))
        .select(
            F.lit("value_mean").alias("metric"),
            mean_a.alias("before_v"), mean_b.alias("after_v"),
            F.when(F.col("s_a") == 0, F.col("s_b") != 0)
            .otherwise(F.abs(mean_b / mean_a - 1.0)
                       > DRIFT_MEAN_REL_TOL).alias("drifted")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.select(
        "metric",
        F.col("before_v").cast(QDEC).cast("double").alias("before_v"),
        F.col("after_v").cast(QDEC).cast("double").alias("after_v"),
        "drifted")


# ---- Jensen-Shannon categorical drift (Q16) ----------------------------------

_JS_CUTOFF = _PSI_CUTOFF  # same before/after split as the PSI/KS/W1 screens


@query(
    "q_drift_js",
    oracle=f"""
    WITH tagged AS (
      SELECT event_type AS cat,
             CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{_JS_CUTOFF}'
                  THEN 1 ELSE 0 END AS in_a
      FROM events
    ),
    per_cat AS (
      SELECT cat, SUM(in_a) AS c_a, SUM(1 - in_a) AS c_b
      FROM tagged GROUP BY cat
    ),
    tot AS (
      SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b FROM per_cat
    ),
    terms AS (
      SELECT n_a, n_b,
             CAST(CASE WHEN c_a > 0 THEN
               0.5 * (CAST(c_a AS DOUBLE) / n_a)
               * ln((CAST(c_a AS DOUBLE) / n_a)
                    / (0.5 * (CAST(c_a AS DOUBLE) / n_a
                              + CAST(c_b AS DOUBLE) / n_b)))
               ELSE 0 END AS DECIMAL(27,9)) AS t_a,
             CAST(CASE WHEN c_b > 0 THEN
               0.5 * (CAST(c_b AS DOUBLE) / n_b)
               * ln((CAST(c_b AS DOUBLE) / n_b)
                    / (0.5 * (CAST(c_a AS DOUBLE) / n_a
                              + CAST(c_b AS DOUBLE) / n_b)))
               ELSE 0 END AS DECIMAL(27,9)) AS t_b
      FROM per_cat, tot
      WHERE n_a > 0 AND n_b > 0
    )
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CASE WHEN MAX(n_a) IS NULL THEN NULL
                ELSE CAST(CAST(CAST(COALESCE(SUM(t_a + t_b), 0)
                     AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE)
                END AS js_nats,
           CASE WHEN MAX(n_a) IS NULL THEN NULL
                ELSE CAST(CAST(CAST(COALESCE(SUM(t_a + t_b), 0)
                       AS DOUBLE) / ln(CAST(2 AS DOUBLE))
                     AS DECIMAL(18,6)) AS DOUBLE) END AS js_bits
    FROM terms
    """,
    tags=("Q16", "drift", "js"),
)
def q_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN-SHANNON DIVERGENCE between the before/after event-TYPE
    distributions — the CATEGORICAL member of the drift family: PSI
    (Q3) needs bins and explodes on empty cells, KS/W1 (Q13/Q14) are
    numeric-only; JS is symmetric, defined for every pair of category
    distributions (zero-count categories contribute exactly their
    one-sided term), and bounded by ln 2 — the property that makes it
    a thresholdable alert metric. Reported in nats and bits.

    Shape: one hash aggregate to per-category (c_a, c_b) counts, one
    1-row total, per-category terms 9-dp-quantized before the final
    sum — category-cardinality-bounded throughout; the events relation
    is touched exactly once. One-sided streams (n_a or n_b = 0) report
    NULL, the Q14 degenerate posture."""
    ev = load(spark, sf_dir, "events")
    tagged = ev.select(
        F.col("event_type").alias("cat"),
        F.when(F.col("ts") < F.lit(_JS_CUTOFF).cast("timestamp"), 1)
        .otherwise(0).alias("in_a"))
    per_cat = tagged.groupBy("cat").agg(
        F.sum("in_a").alias("c_a"),
        F.sum(1 - F.col("in_a")).alias("c_b"))
    tot = per_cat.agg(F.sum("c_a").alias("n_a"),
                      F.sum("c_b").alias("n_b"))
    p_a = F.col("c_a").cast("double") / F.col("n_a")
    p_b = F.col("c_b").cast("double") / F.col("n_b")
    mid = 0.5 * (p_a + p_b)
    t_a = F.when(F.col("c_a") > 0, 0.5 * p_a * F.log(p_a / mid)) \
        .otherwise(F.lit(0)).cast("decimal(27,9)")
    t_b = F.when(F.col("c_b") > 0, 0.5 * p_b * F.log(p_b / mid)) \
        .otherwise(F.lit(0)).cast("decimal(27,9)")
    terms = (per_cat.crossJoin(F.broadcast(tot))
             .where((F.col("n_a") > 0) & (F.col("n_b") > 0))
             .select("n_a", "n_b", t_a.alias("t_a"), t_b.alias("t_b")))
    js = F.coalesce(F.sum(F.col("t_a") + F.col("t_b")),
                    F.lit(0).cast("decimal(27,9)"))
    null_d = F.lit(None).cast("double")
    # Rescale through DOUBLE: DuckDB TRUNCATES decimal->decimal
    # downscales while Spark rounds; double->decimal rounds identically
    # on both engines (r10 discovery, SCALE.md).
    return terms.agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        F.when(F.max("n_a").isNull(), null_d)
        .otherwise(js.cast("double").cast("decimal(18,6)").cast("double"))
        .alias("js_nats"),
        F.when(F.max("n_a").isNull(), null_d)
        .otherwise((js.cast("double") / F.log(F.lit(2.0).cast("double")))
                   .cast("decimal(18,6)").cast("double"))
        .alias("js_bits"))


# ---- Categorical homogeneity drift: chi-square + TVD (Q17) -------------------

_CAT_CUTOFF = _PSI_CUTOFF


@query(
    "q_drift_categorical",
    oracle=f"""
    WITH tagged AS (
      SELECT event_type AS cat,
             CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{_CAT_CUTOFF}'
                  THEN 1 ELSE 0 END AS in_a
      FROM events
    ),
    per_cat AS (
      SELECT cat, SUM(in_a) AS c_a, SUM(1 - in_a) AS c_b
      FROM tagged GROUP BY cat
    ),
    tot AS (
      SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b, COUNT(*) AS k
      FROM per_cat
    ),
    terms AS (
      SELECT k, n_a, n_b,
             CAST(
               (CAST(c_a AS DOUBLE)
                - CAST((c_a + c_b) * n_a AS DOUBLE) / (n_a + n_b))
               * (CAST(c_a AS DOUBLE)
                  - CAST((c_a + c_b) * n_a AS DOUBLE) / (n_a + n_b))
               / (CAST((c_a + c_b) * n_a AS DOUBLE) / (n_a + n_b))
               + (CAST(c_b AS DOUBLE)
                  - CAST((c_a + c_b) * n_b AS DOUBLE) / (n_a + n_b))
               * (CAST(c_b AS DOUBLE)
                  - CAST((c_a + c_b) * n_b AS DOUBLE) / (n_a + n_b))
               / (CAST((c_a + c_b) * n_b AS DOUBLE) / (n_a + n_b))
               AS DECIMAL(27,9)) AS chi_term,
             CAST(0.5 * abs(CAST(c_a AS DOUBLE) / n_a
                            - CAST(c_b AS DOUBLE) / n_b)
               AS DECIMAL(27,9)) AS tvd_term
      FROM per_cat, tot
      WHERE n_a > 0 AND n_b > 0
    )
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(MAX(k) AS BIGINT) AS n_categories,
           CASE WHEN MAX(n_a) IS NULL THEN NULL
                ELSE CAST(CAST(CAST(SUM(chi_term) AS DOUBLE)
                     AS DECIMAL(18,6)) AS DOUBLE) END AS chi_square,
           CAST(MAX(k) - 1 AS BIGINT) AS df,
           CASE WHEN MAX(n_a) IS NULL THEN NULL
                ELSE CAST(CAST(CAST(SUM(tvd_term) AS DOUBLE)
                     AS DECIMAL(18,6)) AS DOUBLE) END AS tvd
    FROM terms
    """,
    tags=("Q17", "drift", "categorical"),
)
def q_drift_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE CATEGORICAL HOMOGENEITY drift: the chi-square
    homogeneity statistic over the before/after event-type contingency
    (df = k−1) next to TOTAL VARIATION DISTANCE (½·Σ|p_a − p_b| — the
    share of probability mass that MOVED, the effect size chi-square's
    n-scaling hides). JS (Q16) answers "how different in information
    terms"; this pair answers "is it significant, and how much mass
    shifted" — the three categorical-drift numbers a monitor pages on.

    Same bounded shape as Q16: one aggregate to per-category counts,
    expected counts from exact integer products with ONE double
    division each, terms 9-dp-quantized pre-sum. One-sided streams
    report NULL statistics."""
    ev = load(spark, sf_dir, "events")
    tagged = ev.select(
        F.col("event_type").alias("cat"),
        F.when(F.col("ts") < F.lit(_CAT_CUTOFF).cast("timestamp"), 1)
        .otherwise(0).alias("in_a"))
    per_cat = tagged.groupBy("cat").agg(
        F.sum("in_a").alias("c_a"),
        F.sum(1 - F.col("in_a")).alias("c_b"))
    tot = per_cat.agg(F.sum("c_a").alias("n_a"),
                      F.sum("c_b").alias("n_b"),
                      F.count(F.lit(1)).alias("k"))
    n_tot = F.col("n_a") + F.col("n_b")
    e_a = ((F.col("c_a") + F.col("c_b")) * F.col("n_a")).cast("double") \
        / n_tot
    e_b = ((F.col("c_a") + F.col("c_b")) * F.col("n_b")).cast("double") \
        / n_tot
    chi_term = (((F.col("c_a").cast("double") - e_a)
                 * (F.col("c_a").cast("double") - e_a) / e_a)
                + ((F.col("c_b").cast("double") - e_b)
                   * (F.col("c_b").cast("double") - e_b) / e_b)) \
        .cast("decimal(27,9)")
    tvd_term = (0.5 * F.abs(F.col("c_a").cast("double") / F.col("n_a")
                            - F.col("c_b").cast("double") / F.col("n_b"))
                ).cast("decimal(27,9)")
    terms = (per_cat.crossJoin(F.broadcast(tot))
             .where((F.col("n_a") > 0) & (F.col("n_b") > 0))
             .select("k", "n_a", "n_b", chi_term.alias("chi_term"),
                     tvd_term.alias("tvd_term")))
    null_d = F.lit(None).cast("double")
    return terms.agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        F.max("k").cast("bigint").alias("n_categories"),
        F.when(F.max("n_a").isNull(), null_d)
        .otherwise(F.sum("chi_term").cast("double")
                   .cast("decimal(18,6)").cast("double"))
        .alias("chi_square"),
        (F.max("k") - 1).cast("bigint").alias("df"),
        F.when(F.max("n_a").isNull(), null_d)
        .otherwise(F.sum("tvd_term").cast("double")
                   .cast("decimal(18,6)").cast("double"))
        .alias("tvd"))


# ---- Cramér-von Mises two-sample drift test (Q18) -------------------------------

_CVM_CUTOFF = _PSI_CUTOFF  # same before/after split as the PSI/KS screens


@query(
    "q_drift_cvm",
    oracle=f"""
    WITH tagged AS (
      SELECT value AS v,
             CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{_CVM_CUTOFF}'
                  THEN 1 ELSE 0 END AS in_a
      FROM events
    ),
    per_value AS (
      SELECT v, SUM(in_a) AS c_a, SUM(1 - in_a) AS c_b
      FROM tagged GROUP BY v
    ),
    cum AS (
      SELECT c_a + c_b AS w,
             SUM(c_a) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_a,
             SUM(c_b) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_b,
             SUM(c_a) OVER () AS n_a,
             SUM(c_b) OVER () AS n_b
      FROM per_value
    ),
    agg AS (
      SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
             SUM(CAST(w AS DECIMAL(38,0))
                 * (CAST(n_b AS DECIMAL(19,0)) * cum_a
                    - CAST(n_a AS DECIMAL(19,0)) * cum_b)
                 * (CAST(n_b AS DECIMAL(19,0)) * cum_a
                    - CAST(n_a AS DECIMAL(19,0)) * cum_b)) AS num
      FROM cum
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                ELSE CAST(CAST(
                  CAST(num AS DOUBLE)
                  / (CAST(n_a AS DOUBLE) * n_b
                     * (CAST(n_a AS DOUBLE) + n_b)
                     * (CAST(n_a AS DOUBLE) + n_b))
                  AS DECIMAL(18,9)) AS DOUBLE) END AS cvm_t
    FROM agg
    """,
    tags=("Q18", "drift", "cvm-test"),
)
def q_drift_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR-VON MISES TWO-SAMPLE TEST between the before/after halves
    of the event-value stream (same cutoff as PSI/KS): T = n·m/N² ·
    Σ_pooled (F_a − F_b)² — where Q13's KS reads only the single WORST
    ECDF gap, CvM integrates the squared gap over the whole pooled
    sample, so a broad mild shift that never produces one extreme gap
    (KS-blind by construction) still scores. Completes the drift
    trio: PSI (binned magnitude), KS (max gap), CvM (integrated gap).

    Same integer-ECDF discipline as Q13 taken one power higher: each
    distinct value contributes w·(m·cumA − n·cumB)² with every factor
    an exact int128 decimal (no fraction ever summed), and the final
    statistic is ONE quantized IEEE division by n·m·N². The shuffle
    carries the distinct-value relation; the window is the family's
    shared prefix sum over values."""
    e = load(spark, sf_dir, "events")
    tagged = e.select(
        F.col("value").alias("v"),
        F.when(F.col("ts") < F.lit(_CVM_CUTOFF).cast("timestamp"), 1)
        .otherwise(0).alias("in_a"))
    per_value = tagged.groupBy("v").agg(
        F.sum("in_a").alias("c_a"),
        F.sum(1 - F.col("in_a")).alias("c_b"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    cum = per_value.select(
        (F.col("c_a") + F.col("c_b")).alias("w"),
        F.sum("c_a").over(wcum).alias("cum_a"),
        F.sum("c_b").over(wcum).alias("cum_b"),
        F.sum("c_a").over(wall).alias("n_a"),
        F.sum("c_b").over(wall).alias("n_b"))
    gap = (F.col("n_b").cast("decimal(19,0)") * F.col("cum_a")
           - F.col("n_a").cast("decimal(19,0)") * F.col("cum_b"))
    agg = cum.agg(
        F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
        F.sum(F.col("w").cast("decimal(38,0)") * gap * gap).alias("num"))
    n_a, n_b = F.col("n_a"), F.col("n_b")
    nn = n_a.cast("double") + n_b
    t = (F.col("num").cast("double")
         / (n_a.cast("double") * n_b * nn * nn))
    return agg.select(
        n_a.cast("bigint").alias("n_a"),
        n_b.cast("bigint").alias("n_b"),
        F.when((n_a == 0) | (n_b == 0), F.lit(None).cast("double"))
        .otherwise(t.cast("decimal(18,9)").cast("double"))
        .alias("cvm_t"))


# ---- Anderson-Darling two-sample drift (Q19) -------------------------------

_AD_CUTOFF = _PSI_CUTOFF  # same before/after split as the PSI/KS/CvM screens


@query(
    "q_drift_ad",
    oracle=f"""
    WITH tagged AS (
      SELECT value AS v,
             CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{_AD_CUTOFF}'
                  THEN 1 ELSE 0 END AS in_a
      FROM events
    ),
    per_value AS (
      SELECT v, SUM(in_a) AS c_a, SUM(1 - in_a) AS c_b
      FROM tagged GROUP BY v
    ),
    cum AS (
      SELECT c_a + c_b AS l,
             SUM(c_a) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_a,
             SUM(c_a + c_b) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bj,
             SUM(c_a) OVER () AS n_a,
             SUM(c_b) OVER () AS n_b
      FROM per_value
    ),
    terms AS (
      SELECT n_a, n_b,
             CAST(CAST(l AS DOUBLE)
                  * ((n_a + n_b) * cum_a - CAST(n_a AS DECIMAL(19,0)) * bj)
                  * ((n_a + n_b) * cum_a - CAST(n_a AS DECIMAL(19,0)) * bj)
                  / (CAST(bj AS DOUBLE) * ((n_a + n_b) - bj))
                  AS DECIMAL(27,9)) AS t
      FROM cum WHERE bj < n_a + n_b
    )
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CASE WHEN MAX(n_a) = 0 OR MAX(n_b) = 0 THEN NULL
                ELSE CAST(CAST(
                  (1.0 / MAX(n_a) + 1.0 / MAX(n_b))
                  / (MAX(n_a) + MAX(n_b)) * CAST(SUM(t) AS DOUBLE)
                  AS DECIMAL(18,9)) AS DOUBLE) END AS ad_stat
    FROM terms
    """,
    tags=("Q19", "drift", "ad-test"),
)
def q_drift_ad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANDERSON-DARLING TWO-SAMPLE TEST (Scholz-Stephens tie-adjusted
    form, no continuity correction) between the before/after halves of
    the event-value stream — the drift member that WEIGHTS the ECDF gap
    by 1/(F(1-F)), so tail divergence that CvM's uniform weighting
    averages away still scores: A² = Σ_j (l_j/N)·(N·M_j − n_a·B_j)²
    /(B_j(N−B_j)) · (1/n_a + 1/n_b), summed over pooled distinct values
    below the maximum. Null mean is 1.0 regardless of sample sizes,
    so the number reads directly as an excess-divergence factor.
    Completes the weighted end of the family: PSI (binned magnitude),
    KS (max gap), CvM (integrated gap), AD (tail-weighted gap).

    Same integer-ECDF discipline as Q13/Q18: ONE hash agg to the
    distinct-value relation, the family's shared prefix window over
    values, per-value numerators exact int128 decimals, ONE division
    per distinct value 9-dp-quantized before the order-insensitive
    sum, and the final closed form assembled from exact (n_a, n_b)."""
    e = load(spark, sf_dir, "events")
    tagged = e.select(
        F.col("value").alias("v"),
        F.when(F.col("ts") < F.lit(_AD_CUTOFF).cast("timestamp"), 1)
        .otherwise(0).alias("in_a"))
    per_value = tagged.groupBy("v").agg(
        F.sum("in_a").alias("c_a"),
        F.sum(1 - F.col("in_a")).alias("c_b"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    cum = per_value.select(
        (F.col("c_a") + F.col("c_b")).alias("l"),
        F.sum("c_a").over(wcum).alias("cum_a"),
        F.sum(F.col("c_a") + F.col("c_b")).over(wcum).alias("bj"),
        F.sum("c_a").over(wall).alias("n_a"),
        F.sum("c_b").over(wall).alias("n_b"))
    nn = F.col("n_a") + F.col("n_b")
    d = (nn * F.col("cum_a")
         - F.col("n_a").cast("decimal(19,0)") * F.col("bj"))
    term = (F.col("l").cast("double") * d * d
            / (F.col("bj").cast("double") * (nn - F.col("bj"))))
    terms = cum.where(F.col("bj") < nn).select(
        "n_a", "n_b", term.cast("decimal(27,9)").alias("t"))
    agg = terms.agg(
        F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
        F.sum("t").alias("st"))
    ad = ((1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
          / (F.col("n_a") + F.col("n_b")) * F.col("st").cast("double"))
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.when((F.col("n_a") == 0) | (F.col("n_b") == 0),
               F.lit(None).cast("double"))
        .otherwise(ad.cast("decimal(18,9)").cast("double"))
        .alias("ad_stat"))


# ---- Functional-dependency audit (Q20) -------------------------------------

# Candidate dependencies a warehouse modeler would assert before
# normalizing: (table, determinant, dependent). Mixed on purpose — some
# hold by construction, some are plausible-but-false; the audit is only
# useful if it can say "no" with the violating-key count.
FD_CANDIDATES = (
    ("nation", "n_nationkey", "n_regionkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("part", "p_brand", "p_type"),
    ("lineitem", "l_orderkey", "l_suppkey"),
)


def _fd_oracle() -> str:
    parts = []
    for tbl, lhs, rhs in FD_CANDIDATES:
        parts.append(f"""
    SELECT '{tbl}.{lhs}->{rhs}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_lhs,
           CAST(SUM(n_rhs) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_lhs,
           SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (
      SELECT {lhs}, COUNT(DISTINCT {rhs}) AS n_rhs
      FROM {tbl} GROUP BY {lhs}
    )""")
        parts.append("    UNION ALL")
    return "\n".join(parts[:-1]) + "\n    ORDER BY fd"


@query("q_quality_fd", oracle=_fd_oracle(),
       tags=("Q20", "quality", "profiling"))
def q_quality_fd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNCTIONAL-DEPENDENCY AUDIT: for each candidate determinant →
    dependent pair, does every determinant value map to exactly one
    dependent value? The schema-design primitive behind normalization
    decisions, surrogate-key validation, and 'can I safely dimension
    this column' questions — Q1 checks values row-by-row, this checks
    the RELATIONSHIP between columns. Reports the violating-key count
    (not just a boolean), because 'holds except for 3 keys' is a data
    bug while 'violated by half the keys' is a modeling error.

    Scale shape: each candidate is one (lhs → count distinct rhs) hash
    aggregate — the shuffle carries the two audited columns only — then
    a 1-row fold; candidates union into an O(#candidates)-row report.
    All counts exact integers; no floats anywhere, so cross-engine
    parity is structural."""
    out = None
    for tbl, lhs, rhs in FD_CANDIDATES:
        t = load(spark, sf_dir, tbl)
        per_key = t.groupBy(lhs).agg(
            F.countDistinct(rhs).alias("n_rhs"))
        row = per_key.agg(
            F.lit(f"{tbl}.{lhs}->{rhs}").alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
            F.sum("n_rhs").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("bigint").alias("n_violating_lhs"),
            (F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)) == 0)
            .alias("holds"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fd")


# ---- String-mask pattern profile (Q21) --------------------------------------

# (table, column) pairs to profile. Masks: digit runs -> '9', upper runs
# -> 'A', lower runs -> 'a'; punctuation/whitespace kept literal.
PATTERN_COLUMNS = (
    ("customer", "c_name"),
    ("part", "p_name"),
    ("part", "p_brand"),
    ("orders", "o_orderpriority"),
    ("events", "props"),
)


def _mask_sql(col: str) -> str:
    return (
        "regexp_replace(regexp_replace(regexp_replace("
        f"CAST({col} AS VARCHAR), '[0-9]+', '9', 'g'), "
        "'[A-Z]+', 'A', 'g'), '[a-z]+', 'a', 'g')")


def _patterns_oracle() -> str:
    parts = []
    for tbl, col in PATTERN_COLUMNS:
        parts.append(f"""
    SELECT '{tbl}.{col}' AS column_name,
           {_mask_sql(col)} AS mask,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(CAST({col} AS VARCHAR)) AS example
    FROM {tbl} GROUP BY 2""")
        parts.append("    UNION ALL")
    body = "\n".join(parts[:-1])
    return f"""
    WITH masks AS ({body}),
    tot AS (
      SELECT column_name, SUM(n_rows) AS col_rows
      FROM masks GROUP BY column_name
    )
    SELECT m.column_name, m.mask, m.n_rows,
           CAST(CAST(CAST(m.n_rows AS DOUBLE) / t.col_rows
                AS DECIMAL(18,6)) AS DOUBLE) AS share,
           m.example
    FROM masks m JOIN tot t ON m.column_name = t.column_name
    ORDER BY m.column_name, m.mask
    """


def _mask_col(col) -> Column:
    c = F.regexp_replace(col.cast("string"), "[0-9]+", "9")
    c = F.regexp_replace(c, "[A-Z]+", "A")
    return F.regexp_replace(c, "[a-z]+", "a")


@query("q_quality_patterns", oracle=_patterns_oracle(),
       tags=("Q21", "quality", "profiling"))
def q_quality_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING-MASK PATTERN PROFILE: collapse every profiled column to
    its shape mask (digit runs → 9, upper runs → A, lower runs → a,
    punctuation literal — 'Customer#000000042' → 'A#9') and report each
    mask's row count, share, and lexicographically-least example. The
    format-health screen that catches the drifted ingest ('5% of
    phone-shaped strings grew a country prefix', 'a second JSON shape
    appeared in props') before any value-level statistic moves —
    masks, unlike values, have tiny cardinality, so a NEW mask is
    always report-visible.

    Scale shape: per column ONE scan → mask expression (three
    JVM-side regexp_replace passes, no UDF) → hash agg keyed by the
    low-cardinality mask; shares derive from a per-column total joined
    back on the O(#masks) relation — the fact tables never shuffle
    anything wider than the mask string. MIN(example) makes the
    representative engine-independent; share is one 6-dp-quantized
    division of exact counts."""
    out = None
    for tbl, col in PATTERN_COLUMNS:
        t = load(spark, sf_dir, tbl)
        m = t.select(
            F.lit(f"{tbl}.{col}").alias("column_name"),
            _mask_col(F.col(col)).alias("mask"),
            F.col(col).cast("string").alias("raw"))
        g = m.groupBy("column_name", "mask").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("raw").alias("example"))
        out = g if out is None else out.unionByName(g)
    # Per-column totals ride a window over the O(#masks) relation
    # (r15, guide §2.4): the former aggregate-and-join-back consumed
    # the union twice, re-deriving every column scan (10 scans -> 5,
    # one per profiled column — the floor). Same exact integer total,
    # partitioned by the key the relation is already grouped on.
    col_rows = F.sum("n_rows").over(
        Window.partitionBy("column_name"))
    return (out.select("column_name", "mask", "n_rows",
                       (F.col("n_rows").cast("double") / col_rows)
                       .cast("decimal(18,6)").cast("double").alias("share"),
                       "example")
            .orderBy("column_name", "mask"))


# ---- Cross-engine column fingerprint / reconciliation (Q22) -----------------

# (table, column) pairs fingerprinted. STRING and INTEGER columns only,
# deliberately: float/date→text rendering is engine-specific, but int
# and string render identically everywhere, so the md5 fold is a
# portable reconciliation key.
CHECKSUM_COLUMNS = (
    ("customer", "c_name"),
    ("customer", "c_mktsegment"),
    ("orders", "o_orderkey"),
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_returnflag"),
    ("part", "p_brand"),
    ("nation", "n_name"),
)
CHECKSUM_MOD = 1_000_000_007  # prime fold keeps the sum in int64 forever


def _checksum_oracle() -> str:
    parts = []
    for tbl, col in CHECKSUM_COLUMNS:
        parts.append(f"""
    SELECT '{tbl}.{col}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(CAST('0x' || substr(
                  md5(CAST({col} AS VARCHAR)), 1, 8) AS BIGINT)
                AS DECIMAL(38,0))) % {CHECKSUM_MOD} AS BIGINT)
             AS checksum
    FROM {tbl}""")
        parts.append("    UNION ALL")
    return "\n".join(parts[:-1]) + "\n    ORDER BY column_name"


@query("q_quality_checksum", oracle=_checksum_oracle(),
       tags=("Q22", "quality", "reconciliation"))
def q_quality_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-ENGINE COLUMN FINGERPRINT: per audited column, the row
    count, null count, exact distinct count, and an order-insensitive
    md5 content checksum (Σ uint32(md5(value)) mod p) — the
    reconciliation primitive for 'did the migration/replica/backfill
    produce THE SAME data', strictly stronger than the row-count diff
    every warehouse uses: a swapped pair of updates keeps counts equal
    but moves the checksum. Int and string columns only, deliberately —
    their text rendering is engine-identical, so the fingerprint
    travels across engines (this query's own oracle IS a cross-engine
    reconciliation run: DuckDB recomputes the fingerprint from the
    same files and must match bit-for-bit).

    Scale shape: per column ONE scan → md5 + substring + conv (all
    JVM-side) → one hash-aggregate fold; the sum runs as exact
    decimal(38,0) then folds mod a prime back into int64, so the
    checksum never overflows at any row count; distinct counts are
    exact (the expensive honest member — swap for A4's HLL when
    approximate suffices). Output is O(#columns)."""
    out = None
    for tbl, col in CHECKSUM_COLUMNS:
        t = load(spark, sf_dir, tbl)
        h = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8),
                   16, 10).cast("bigint")
        row = t.agg(
            F.lit(f"{tbl}.{col}").alias("column_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).cast("bigint")
            .alias("n_nulls"),
            F.countDistinct(col).cast("bigint").alias("n_distinct"),
            F.pmod(F.sum(h.cast("decimal(38,0)")), F.lit(CHECKSUM_MOD))
            .cast("bigint").alias("checksum"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("column_name")


# ---- Purchase-velocity screen (Q23) ------------------------------------------

DUP_TXN_WINDOW_MIN = 240  # same user, repeat purchase within 4 hours
DUP_TXN_BUCKET = 10       # amounts within the same 10-unit bucket flag


@query(
    "q_quality_dup_txn",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, value,
             CAST(ts AS TIMESTAMP) AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT a.user_id,
             a.event_id AS first_id, b.event_id AS next_id,
             a.value AS first_value, b.value AS next_value,
             CAST((epoch_us(b.pts) - epoch_us(a.pts)) // 1000000
               AS BIGINT) AS gap_seconds,
             floor(a.value / {DUP_TXN_BUCKET})
               = floor(b.value / {DUP_TXN_BUCKET}) AS same_amount_band
      FROM p a JOIN p b
        ON a.user_id = b.user_id
       AND b.pts >= a.pts
       AND b.pts <= a.pts + INTERVAL {DUP_TXN_WINDOW_MIN} MINUTE
       AND a.event_id < b.event_id
    )
    SELECT user_id, first_id, next_id, first_value, next_value,
           gap_seconds, same_amount_band
    FROM pairs
    ORDER BY user_id, first_id, next_id
    """,
    tags=("Q23", "quality", "velocity"),
)
def q_quality_dup_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURCHASE-VELOCITY SCREEN: purchase pairs from the same user
    inside a {DUP_TXN_WINDOW_MIN}-minute window, flagged when both
    amounts land in the same {DUP_TXN_BUCKET}-unit band — the
    double-charge / rapid-repeat detector every payments pipeline runs
    before revenue rollups (L1's document dedup finds equal CONTENT;
    this finds suspicious REPETITION, where both rows are individually
    valid). Pair grain with the gap, so downstream policy separates
    instant machine retries (gap ≈ 0) from slow human re-orders.

    Scale shape: the time-band self-join EQUI-keys on user_id FIRST —
    the shuffle carries only purchase rows keyed by user, and the pair
    space is bounded per user by purchase velocity itself (the thing
    being screened: honest users produce few in-window pairs, and the
    screen's OUTPUT is the blow-up alarm). The interval predicate then
    bounds pairs in time; (a.id < b.id) orients each unordered pair
    once; the amount-band flag is exact integer floor arithmetic on
    both engines; timestamp math is µs-exact (compat rule 3)."""
    e = load(spark, sf_dir, "events")
    p = (e.where(F.col("event_type") == "purchase")
         .select("event_id", "user_id", "value", F.col("ts").alias("pts")))
    a = p.select(F.col("user_id"),
                 F.col("event_id").alias("first_id"),
                 F.col("value").alias("first_value"),
                 F.col("pts").alias("ts_a"))
    b = p.select(F.col("user_id"),
                 F.col("event_id").alias("next_id"),
                 F.col("value").alias("next_value"),
                 F.col("pts").alias("ts_b"))
    pairs = (a.join(b, "user_id")
             .where((F.col("ts_b") >= F.col("ts_a"))
                    & (F.col("ts_b") <= F.col("ts_a")
                       + F.expr(f"interval {DUP_TXN_WINDOW_MIN} minutes"))
                    & (F.col("first_id") < F.col("next_id"))))
    return (pairs.select(
        "user_id", "first_id", "next_id", "first_value", "next_value",
        ((F.unix_micros(F.col("ts_b"))
          - F.unix_micros(F.col("ts_a"))) / 1_000_000)
        .cast("bigint").alias("gap_seconds"),
        (F.floor(F.col("first_value") / DUP_TXN_BUCKET)
         == F.floor(F.col("next_value") / DUP_TXN_BUCKET))
        .alias("same_amount_band"))
        .orderBy("user_id", "first_id", "next_id"))


# ---- Sentinel-value screen (Q24) -----------------------------------------------

# table -> [(column, sentinel predicate SQL, predicate builder)].
# Sentinels are the DEFAULT-ish values a broken producer emits: zeros,
# empties, unit sizes. Grouped by table so each table costs ONE scan.
SENTINEL_ALERT_SHARE = 0.05


def _sentinel_catalog():
    return (
        ("lineitem", (
            ("l_discount", "l_discount = 0",
             lambda: F.col("l_discount") == 0),
            ("l_tax", "l_tax = 0",
             lambda: F.col("l_tax") == 0),
        )),
        ("customer", (
            ("c_acctbal", "c_acctbal <= 0",
             lambda: F.col("c_acctbal") <= 0),
        )),
        ("events", (
            ("value", "value = 0",
             lambda: F.col("value") == 0),
        )),
        ("documents", (
            ("text", "text = ''",
             lambda: F.col("text") == ""),
        )),
        ("part", (
            ("p_size", "p_size = 1",
             lambda: F.col("p_size") == 1),
        )),
    )


def _sentinel_oracle() -> str:
    tables = []
    for tbl, preds in _sentinel_catalog():
        sums = ", ".join(
            f"SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS s{i}"
            for i, (_, pred, _) in enumerate(preds))
        rows = []
        for i, (col, pred, _) in enumerate(preds):
            label = pred.replace("'", "''")
            rows.append(f"""
    SELECT '{tbl}.{col}' AS column_name, '{label}' AS sentinel,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(s{i} AS BIGINT) AS n_sentinel,
           CAST(CAST(CAST(s{i} AS DOUBLE) / n_rows AS DECIMAL(18,6))
                AS DOUBLE) AS share,
           CAST(CAST(s{i} AS DOUBLE) / n_rows AS DECIMAL(18,6))
             > {SENTINEL_ALERT_SHARE} AS alert
    FROM agg_{tbl}""")
        tables.append(
            f"agg_{tbl} AS (SELECT COUNT(*) AS n_rows, {sums} "
            f"FROM {tbl})")
        tables.append("ROWS:" + "\n    UNION ALL".join(rows))
    ctes = ",\n    ".join(t for t in tables if not t.startswith("ROWS:"))
    body = "\n    UNION ALL".join(
        t[5:] for t in tables if t.startswith("ROWS:"))
    return (f"""
    WITH {ctes}
    {body}
    ORDER BY column_name, sentinel
    """)


@query("q_quality_sentinels", oracle=_sentinel_oracle(),
       tags=("Q24", "quality", "profiling"))
def q_quality_sentinels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SENTINEL-VALUE SCREEN: the share of default-ish values (zeros,
    non-positive balances, empty strings, unit sizes) per audited
    column, with an alert at {SENTINEL_ALERT_SHARE:.0%} — the
    broken-producer detector the null-rate audits (Q1/Q15) are blind
    to: a failing upstream rarely ships NULLs, it ships DEFAULTS, and
    the column stays 100% non-null while going 100% meaningless. The
    mask profile (Q21) sees format drift; this sees VALUE-DEFAULT
    drift; together they bracket the silent-producer failure mode.

    Scale shape: exactly ONE conditional-aggregation scan per audited
    TABLE — all of a table's sentinel counters fold into the same
    partial/final hash aggregate (the Q1 discipline, plan-asserted in
    tests/test_plans.py), and the per-sentinel report rows explode
    from that one-row aggregate as an array of structs. Output is
    O(#catalog) rows; the share is one 6-dp-quantized division of
    exact counts and the alert compares on the quantized grid
    identically in both engines."""
    out = None
    for tbl, preds in _sentinel_catalog():
        t = load(spark, sf_dir, tbl)
        aggs = [F.count(F.lit(1)).alias("n_rows")] + [
            F.sum(F.when(pred(), 1).otherwise(0)).alias(f"s{i}")
            for i, (_, _, pred) in enumerate(preds)]
        one = t.agg(*aggs)
        rows = F.array(*[
            F.struct(
                F.lit(f"{tbl}.{col}").alias("column_name"),
                F.lit(pred_sql).alias("sentinel"),
                F.col(f"s{i}").alias("n_sentinel"))
            for i, (col, pred_sql, _) in enumerate(preds)])
        share = (F.col("n_sentinel").cast("double")
                 / F.col("n_rows")).cast("decimal(18,6)")
        stacked = (one.select("n_rows", F.explode(rows).alias("r"))
                   .select(F.col("r.column_name").alias("column_name"),
                           F.col("r.sentinel").alias("sentinel"),
                           F.col("n_rows").cast("bigint").alias("n_rows"),
                           F.col("r.n_sentinel").cast("bigint")
                           .alias("n_sentinel"))
                   .select("column_name", "sentinel", "n_rows",
                           "n_sentinel",
                           share.cast("double").alias("share"),
                           (share > SENTINEL_ALERT_SHARE).alias("alert")))
        out = stacked if out is None else out.unionByName(stacked)
    return out.orderBy("column_name", "sentinel")


# ---- Tukey-fence (IQR) outlier audit (Q25) ----------------------------------

IQR_K_NUM = 3    # fence multiplier 1.5 as the exact rational 3/2 —
IQR_K_DEN = 2    # the fence compare is then exact decimal arithmetic


@query(
    "q_quality_iqr",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag AS segment, l_extendedprice AS v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rk,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    quart AS (
      SELECT segment,
             MAX(n) AS n,
             MAX(CASE WHEN rk = CEIL(0.25 * n) THEN v END) AS q1,
             MAX(CASE WHEN rk = CEIL(0.75 * n) THEN v END) AS q3
      FROM ranked GROUP BY segment
    ),
    fenced AS (
      SELECT segment, n, q1, q3,
             3 * (q3 - q1) AS iqr3
      FROM quart
    )
    SELECT f.segment,
           CAST(f.n AS BIGINT) AS n_rows,
           CAST(f.q1 AS DOUBLE) AS q1,
           CAST(f.q3 AS DOUBLE) AS q3,
           CAST(SUM(CASE WHEN 2 * (f.q1 - r.v) > f.iqr3
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low,
           CAST(SUM(CASE WHEN 2 * (r.v - f.q3) > f.iqr3
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           CAST(CAST(CAST(SUM(CASE WHEN 2 * (f.q1 - r.v) > f.iqr3
                                     OR 2 * (r.v - f.q3) > f.iqr3
                                   THEN 1 ELSE 0 END) AS DOUBLE) / f.n
                AS DECIMAL(18,6)) AS DOUBLE) AS outlier_rate
    FROM fenced f
    JOIN ranked r ON r.segment = f.segment
    GROUP BY f.segment, f.n, f.q1, f.q3
    ORDER BY f.segment
    """,
    tags=("Q25", "quality", "iqr", "two-pass"),
)
def q_quality_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY-FENCE OUTLIER AUDIT per segment: exact Q1/Q3 (discrete
    inverse-CDF ranks, the A30 definition), fences at quartile ±
    1.5·IQR, and the count/rate of rows outside them — the
    distribution-free outlier screen that complements A14's z-score
    (which assumes normality a heavy tail breaks) and A18's MAD
    (robust, but a MAD of zero degenerates where quartiles don't);
    1.5·IQR is the boxplot-whisker convention every data-quality
    dashboard draws.

    Exactness at scale: the quartiles come from ``rank_select`` (both
    ranks share one histogram), and the fence comparison is EXACT
    decimal arithmetic with NO division anywhere (1.5 as the rational
    3/2 cross-multiplied: v is low iff 2·(q1−v) > 3·(q3−q1), identically
    in the oracle SQL, so neither engine ever materializes a float fence
    — DuckDB types decimal division as DOUBLE, which the divide-free
    form sidesteps). The outlier count is a second fact-table aggregate
    against the broadcast 3-row fence relation; no global sort anywhere
    (the oracle's ROW_NUMBER statement of the same ranks is the naive
    form)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("segment"),
        F.col("l_extendedprice").alias("v"))
    quart = rank_select(li, "segment", "v", {
        "q1": F.ceil(F.lit(0.25) * F.col("n")),
        "q3": F.ceil(F.lit(0.75) * F.col("n"))})
    fenced = quart.select(
        "segment", "n", "q1", "q3",
        (IQR_K_NUM * (F.col("q3") - F.col("q1"))).alias("iqr3"))
    fenced = share(fenced)
    # fence classification stays in +/-/* decimal arithmetic on BOTH
    # sides: v is low iff 2*(q1-v) > 3*(q3-q1) — the division-free form
    # of v < q1 - 1.5*IQR, so neither engine ever types a fence as a
    # float (DuckDB types decimal division DOUBLE; r12 advice)
    is_low = (IQR_K_DEN * (F.col("q1") - F.col("v"))
              > F.col("iqr3"))
    is_high = (IQR_K_DEN * (F.col("v") - F.col("q3"))
               > F.col("iqr3"))
    return (li.join(F.broadcast(fenced), "segment")
            .groupBy("segment")
            .agg(F.max("n").cast("bigint").alias("n_rows"),
                 F.max("q1").cast("double").alias("q1"),
                 F.max("q3").cast("double").alias("q3"),
                 F.sum(F.when(is_low, 1).otherwise(0))
                 .cast("bigint").alias("n_low"),
                 F.sum(F.when(is_high, 1).otherwise(0))
                 .cast("bigint").alias("n_high"),
                 (F.sum(F.when(is_low | is_high, 1)
                        .otherwise(0)).cast("double") / F.max("n"))
                 .cast("decimal(18,6)").cast("double")
                 .alias("outlier_rate"))
            .orderBy("segment"))


# ---- Referential-integrity orphan audit (Q26) --------------------------------

# The schema's FK edges: (edge name, child table, child key, parent
# table, parent key). Adding an edge = one tuple; the audit shape is
# edge-count-bounded, never data-shaped.
FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
)


def _orphan_oracle() -> str:
    parts = []
    for edge, child, ck, parent, pk in FK_EDGES:
        parts.append(f"""
    SELECT '{edge}' AS edge,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_child,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
            WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                              WHERE p.{pk} = c.{ck})) AS n_orphans""")
    return f"""
    WITH per_edge AS ({' UNION ALL '.join(parts)})
    SELECT edge, n_child, n_orphans,
           CASE WHEN n_child = 0 THEN NULL
                ELSE CAST(CAST(CAST(n_orphans AS DOUBLE) / n_child
                     AS DECIMAL(18,6)) AS DOUBLE) END AS orphan_rate,
           n_orphans > 0 AS alert
    FROM per_edge
    ORDER BY edge
    """


@query("q_quality_orphans", oracle=_orphan_oracle(),
       tags=("Q26", "quality", "referential-integrity"))
def q_quality_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY ORPHAN AUDIT over every FK edge in the
    schema: child rows whose key has no parent (the broken-ingest
    signature a failed dimension load leaves behind — facts arrive,
    their dimension doesn't, every downstream inner join silently
    DROPS the orphans and the totals just quietly shrink). One row per
    edge with the orphan count/rate and an alert flag; the audit that
    belongs BEFORE the join-shaped queries this schema feeds (Q10/Q11
    reconcile totals within a table; this checks the edges BETWEEN
    tables).

    Scale: per edge, one LEFT ANTI join of the child keys against the
    (dimension-sized, broadcastable) parent key relation, pre-collapsed
    to DISTINCT child keys so the anti join moves keys, not fact rows;
    orphan counts then rejoin the per-key multiplicity. All seven edges
    fold into one union of edge-count-bounded 1-row aggregates. The
    alert boolean is never-NULL (the pandas NaN-boolean gate hazard);
    the rate carries the n_child = 0 ANSI guard."""
    out = None
    for edge, child, ck, parent, pk in FK_EDGES:
        c = load(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = load(spark, sf_dir, parent).select(F.col(pk).alias("k")) \
            .distinct()
        keys = c.groupBy("k").agg(F.count(F.lit(1)).alias("mult"))
        # One child pass per edge (r15, guide §1.2 step 1): n_child is
        # the sum of per-key multiplicities the orphan check already
        # aggregates, so the parent verdict rides a left join's hit
        # flag and ONE aggregate emits both counts — the old shape
        # scanned the child a second time for count(*) and anti-joined
        # for the orphan sum (14 fact scans -> 7 across the edges).
        # Integer sums of the same multiplicities: bit-identical.
        flagged = keys.join(
            F.broadcast(p.withColumn("hit", F.lit(1))), "k", "left")
        row = flagged.agg(
            F.coalesce(F.sum("mult"), F.lit(0))
            .cast("bigint").alias("n_child"),
            F.coalesce(
                F.sum(F.when(F.col("hit").isNull(), F.col("mult"))
                      .otherwise(0)), F.lit(0))
            .cast("bigint").alias("n_orphans"),
        ).select(F.lit(edge).alias("edge"), "n_child", "n_orphans")
        out = row if out is None else out.unionByName(row)
    return out.select(
        "edge", "n_child", "n_orphans",
        F.when(F.col("n_child") == 0, F.lit(None).cast("double"))
        .otherwise((F.col("n_orphans").cast("double")
                    / F.col("n_child"))
                   .cast("decimal(18,6)").cast("double"))
        .alias("orphan_rate"),
        (F.col("n_orphans") > 0).alias("alert")).orderBy("edge")


# ---- Primary-key uniqueness audit (Q27) --------------------------------------

# (table, pk column(s)) — composite keys supported; lineitem's PK is
# (l_orderkey, l_linenumber), everything else is single-column.
PK_CANDIDATES = (
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("orders", ("o_orderkey",)),
    ("customer", ("c_custkey",)),
    ("part", ("p_partkey",)),
    ("supplier", ("s_suppkey",)),
    ("nation", ("n_nationkey",)),
    ("region", ("r_regionkey",)),
    ("events", ("event_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
)


def _pk_oracle() -> str:
    parts = []
    for table, cols in PK_CANDIDATES:
        key = ", ".join(cols)
        parts.append(f"""
    SELECT '{table}' AS table_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {table}) AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM (SELECT DISTINCT {key} FROM {table})) AS n_keys,
           (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
            FROM (SELECT COUNT(*) AS c FROM {table}
                  GROUP BY {key} HAVING COUNT(*) > 1)) AS n_dup_rows""")
    return f"""
    WITH per_table AS ({' UNION ALL '.join(parts)})
    SELECT table_name, n_rows, n_keys, n_dup_rows,
           n_dup_rows = 0 AS is_unique
    FROM per_table
    ORDER BY table_name
    """


@query("q_quality_pk", oracle=_pk_oracle(),
       tags=("Q27", "quality", "pk-uniqueness"))
def q_quality_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIMARY-KEY UNIQUENESS AUDIT over every table's declared key —
    Q26's sibling (Q26 checks the edges BETWEEN tables; this checks
    each table's own identity): duplicated keys are the
    double-delivered-file / replayed-partition signature, and every
    MERGE (M1), SCD build (M4) and window-latest dedup (W2) in this
    repo silently assumes they don't exist. One row per table with the
    duplicate surplus (rows beyond the first per key) and a never-NULL
    uniqueness flag.

    Scale: one partial/final COUNT aggregate per table at its key
    grain (map-side combine carries one row per partition×key), folded
    to a 1-row summary each; the union is catalog-bounded. Composite
    keys (lineitem) group on the column tuple — no string
    concatenation, no hash collisions.

    Live finding on the harness corpus itself: lineitem's NOMINAL
    TPC-H key (l_orderkey, l_linenumber) is NOT unique here — the
    generator assigns l_linenumber randomly, leaving a ~23% duplicate
    surplus (1401 rows at sf0.001) — exactly the class of silent
    contract violation this audit exists to surface before a MERGE
    keys on it. The row reports is_unique = FALSE honestly; the other
    nine tables pass."""
    out = None
    for table, cols in PK_CANDIDATES:
        t = load(spark, sf_dir, table)
        per_key = t.groupBy(*[F.col(c) for c in cols]).agg(
            F.count(F.lit(1)).alias("c"))
        summary = per_key.agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint")
            .alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c") - 1)
                             .otherwise(0)), F.lit(0))
            .cast("bigint").alias("n_dup_rows"))
        row = summary.select(F.lit(table).alias("table_name"),
                             "n_rows", "n_keys", "n_dup_rows")
        out = row if out is None else out.unionByName(row)
    return out.select("table_name", "n_rows", "n_keys", "n_dup_rows",
                      (F.col("n_dup_rows") == 0).alias("is_unique")) \
        .orderBy("table_name")
