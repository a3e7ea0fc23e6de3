"""Cross-engine determinism helpers (Spark result == DuckDB oracle, bit-exact).

The driver's correctness gate hashes result values with no float fuzz
(SURVEY.md §5), so every query must produce byte-identical values in Spark
and DuckDB. Three hazards and their fixes, all verified empirically in
``tests/test_oracle_mirror.py``:

1. **Float aggregation order.** Summing doubles is order-sensitive and
   Spark's partial/final aggregation order differs from DuckDB's. Fix:
   quantize to DECIMAL(20,6) per row (exact, identical in both engines —
   no double is exactly halfway between two 6-dp decimals, so round-to-
   nearest is unambiguous), sum exactly as decimal, cast the exact result
   back to double. ``dsum`` / ``davg`` below; SQL macro ``o_dsum``.

2. **libm drift.** ``exp``/``ln`` may differ in the last ulp between the
   JVM and DuckDB's libm. Any value that passed through a transcendental
   function must be decimal-quantized before aggregation or comparison
   (quantizing at 6 dp absorbs 1-ulp drift with ~1e-10 residual risk).

3. **Timestamp physical types.** ``events.ts`` has shipped as both INT64
   nanos (Spark: long + ``timestamp_micros(ns div 1000)``; DuckDB:
   timestamp_ns) and timestamp[us]; ``io.load`` normalizes either to
   session-UTC TimestampType. The oracle must always go through
   ``CAST(ts AS TIMESTAMP)`` (µs truncation, a no-op on µs data) so both
   engines compare identical µs.

Also: alias every computed column identically on both sides (the driver
matches columns by name), and give every window/top-k a total ordering
(unique tiebreak key) so the selected rowset is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Quantization type: 12 integer digits / 6 fractional. Wide enough for
# per-row values to 1e12; fine enough that quantization error is
# invisible at the 4-dp reporting scale. Precision 18 (not 20) keeps the
# *input* conversion on Spark's compact long-backed Decimal (measured
# ~20% faster aggregation than decimal(20,6) at 10M rows); the SUM
# accumulator Catalyst derives is decimal(28,6) either way, and the
# oracle SQL may quantize at DECIMAL(20,6) — both quantize identically
# at 6 dp for in-range values, so parity is unaffected.
QDEC = "decimal(18,6)"


def q(col: Column | str) -> Column:
    """Quantize a double column to exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(QDEC)


def dsum(col: Column | str, alias: str) -> Column:
    """Order-insensitive, engine-exact SUM over doubles -> double."""
    return F.sum(q(col)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Engine-exact AVG: exact decimal sum, then one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(q(c)).cast("double") / F.count(c)).alias(alias)


# ---- SQL-side macros (DuckDB oracle text) --------------------------------

def o_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(20,6))) AS DOUBLE) AS {alias}"


def o_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(20,6))) AS DOUBLE)"
        f" / COUNT(({expr})) AS {alias}"
    )
