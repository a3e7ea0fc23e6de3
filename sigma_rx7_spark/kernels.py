"""The one Arrow-kernel contract: a dense numeric list column takes an
Arrow kernel only when it is *regular*; anything else takes the query's
JVM fallback, whose NULL and overflow semantics are the reference.

A column is regular when no row is NULL, every row has the same nonzero
width, no element is NULL and every element satisfies ``|x| < abs_max``.
``abs_max`` defaults to ``+inf``, so NaN and ±inf fail under both numpy's
and Spark's comparison rules. An empty column has no width and is not
regular. The predicate is written once per engine, and a test pins the
two to agree: ``dense_width`` (a Spark aggregate, the gate for a kernel
that does not collect its input) and ``dense_rows`` (the Arrow decode,
which raises inside a worker if irregular data got past the gate).
``collect_dense`` is the one declared driver collect.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dense_rows(arr, dim: int | None = None, abs_max: float = math.inf):
    """Decode an Arrow ``list<float|double>`` column to a float64
    ``(n, dim)`` matrix; raise ``ValueError`` unless it is regular.

    ``dim=None`` takes the width from the data. The float32→float64
    widening is exact, so the values equal ``np.asarray(to_pylist())``
    without building a Python object per element."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError("NULL row in a dense list column")
    widths = pc.min_max(pc.list_value_length(arr)).as_py()
    width = widths["min"]  # None for an empty column
    if width != widths["max"] or not width or dim not in (None, width):
        raise ValueError(f"no single nonzero width: {widths}, "
                         f"expected {dim}")
    flat = arr.flatten()
    if flat.null_count:
        raise ValueError("NULL element in a dense list column")
    V = flat.to_numpy().astype(np.float64).reshape(len(arr), width)
    if not (np.abs(V) < abs_max).all():
        raise ValueError(f"element outside |x| < {abs_max}")
    return V


def dense_width(df: DataFrame, col: str,
                abs_max: float = math.inf) -> int | None:
    """The common width of ``df[col]`` if the column is regular, else
    None. One aggregate, O(1) rows to the driver."""
    c = F.col(col)
    bad = F.exists(c, lambda x: x.isNull() | ~(F.abs(x) < F.lit(abs_max)))
    r = df.agg(
        F.count(F.when(c.isNull(), 1)).alias("null_rows"),
        F.count(F.when(bad, 1)).alias("bad_rows"),
        F.min(F.size(c)).alias("lo"),
        F.max(F.size(c)).alias("hi"),
    ).first()
    if r.null_rows or r.bad_rows or not r.lo or r.lo != r.hi:
        return None
    return r.lo


def collect_dense(df: DataFrame, key: str, col: str):
    """``(df[key] as numpy, dense_rows(df[col]))`` for a kernel that
    broadcasts its whole build side; None when ``df[col]`` is irregular
    or empty. One pass over the relation either way."""
    tbl = df.select(key, col).toArrow()
    try:
        V = dense_rows(tbl.column(col))
    except ValueError:
        return None
    return tbl.column(key).to_numpy(), V
