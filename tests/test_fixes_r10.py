"""Round-10 regression tests for the round-9 verdict/advisor findings.

1. Hot-basket guard (verdict "What's wrong #2"): the co-purchase edge
   build must bound EVERY order's pair contribution structurally — a
   synthetic 500-line basket emits at most COPURCHASE_MAX_LINES²
   pairs, while small orders (TPC-H shape, <= 7 lines) pass through
   byte-identically, so harness oracle parity is untouched.
2. ``q_ts_forecast_backtest``: a family whose actual sum hits exactly
   zero must report NULL MAPE on both engines — never an ANSI
   DIVIDE_BY_ZERO from the per-row ratio (r9 advice, medium).
3. ``q_drift_wasserstein``: NULL values carry no ECDF mass and must
   not perturb the cross-engine value ordering (r9 advice, low).

(Item 4 of that round, full-path staging keys, is pinned by
tests/test_layout.py::test_staging_identity.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _events_fixture(spark, rows):
    """(event_id, event_type, ts-string, value) rows -> a DataFrame with
    the full harness events schema (io.SCHEMAS order)."""
    return (spark.createDataFrame(
        rows, "event_id bigint, event_type string, ts string, value double")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                F.lit(1).cast("bigint").alias("user_id"), "event_type",
                "value", F.lit("{}").alias("props")))


def test_copurchase_hot_basket_bounded(spark):
    from sigma_rx7_spark.operators.graph import (COPURCHASE_MAX_LINES,
                                                 capped_order_lines,
                                                 copurchase_edges)

    k = COPURCHASE_MAX_LINES
    hot = spark.range(500).select(
        F.lit(1).alias("l_orderkey"), F.col("id").alias("l_partkey"))
    capped = capped_order_lines(hot)
    assert capped.count() == k
    # Deterministic keep: the K smallest part keys.
    assert [r["p"] for r in capped.orderBy("p").collect()] == list(range(k))
    edges = copurchase_edges(hot)
    assert edges.count() == k * (k - 1)

    small = spark.range(5).select(
        (F.col("id") % 2).alias("l_orderkey"), F.col("id").alias("l_partkey"))
    # Orders under the cap are passed through unchanged (3 + 2 lines).
    assert capped_order_lines(small).count() == 5
    # Directed pairs: 3*2 + 2*1.
    assert copurchase_edges(small).count() == 8


def test_forecast_backtest_zero_actual_is_null_mape(spark, tmp_path):
    import duckdb

    from sigma_rx7_spark.operators.timeseries import FC_SEASON_DAYS
    from sigma_rx7_spark.registry import get

    # One event family, two scored days; the FIRST scored day's actual
    # sums to exactly 0.0 — the per-row guard must keep both engines
    # NULL (the has_zero aggregate guard), never an ANSI 1/0 error.
    rows = [
        (1, "a", "2024-01-01 00:00:00", 5.0),
        (2, "a", "2024-01-02 00:00:00", 2.0),
        (3, "a", f"2024-01-{1 + FC_SEASON_DAYS:02d} 00:00:00", 3.0),
        (4, "a", f"2024-01-{1 + FC_SEASON_DAYS:02d} 00:00:00", -3.0),
        (5, "a", f"2024-01-{2 + FC_SEASON_DAYS:02d} 00:00:00", 4.0),
    ]
    df = _events_fixture(spark, rows)
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")

    spec = get("q_ts_forecast_backtest")
    out = spec.fn(spark, sf).collect()
    assert len(out) == 1 and out[0]["mape"] is None
    assert out[0]["n_scored_days"] == 2

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf}/events.parquet/*.parquet')")
    orow = con.execute(spec.oracle_for(sf)).fetchall()
    assert len(orow) == 1 and orow[0][3] is None  # mape column


def test_wasserstein_null_values_ignored(spark, tmp_path):
    import duckdb

    from sigma_rx7_spark.operators.quality import _W1_CUTOFF
    from sigma_rx7_spark.registry import get

    rows = [
        (1, "a", "2023-01-01 00:00:00", 1.0),
        (2, "a", "2023-01-01 00:00:00", None),   # pre-cutoff NULL
        (3, "a", "2025-12-31 00:00:00", 2.0),
        (4, "a", "2025-12-31 00:00:00", None),   # post-cutoff NULL
    ]
    df = _events_fixture(spark, rows)
    assert str(_W1_CUTOFF) > "2023-01-01"  # rows straddle the cutoff
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")

    spec = get("q_drift_wasserstein")
    srow = spec.fn(spark, sf).collect()[0]
    # NULLs dropped on both sides: one point-mass per half, W1 = |gap|.
    assert (srow["n_a"], srow["n_b"]) == (1, 1)
    assert srow["wasserstein_1"] == pytest.approx(1.0)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf}/events.parquet/*.parquet')")
    orow = con.execute(spec.oracle_for(sf)).fetchone()
    assert (orow[0], orow[1]) == (1, 1)
    assert orow[2] == pytest.approx(srow["wasserstein_1"])
