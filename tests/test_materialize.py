"""One owner per mechanism: each row names the only module under
``sigma_rx7_spark/`` allowed to match its pattern.

- ``materialize.py`` alone may persist, cache, checkpoint or unpersist a
  relation; every other module shares one through ``materialize.share``.
- ``staging.py`` alone knows where a staged artifact lives and when it
  is complete; every other module builds one through ``staging.stage``
  and names one through ``staging.path``.
- ``kernels.py`` alone collects a relation to Arrow on the driver or
  turns Arrow values into Python objects; every Arrow kernel gates its
  input with ``kernels.dense_width`` or ``kernels.collect_dense`` and
  decodes it with ``kernels.dense_rows``.
- ``streaming/jobs.py`` alone starts, checkpoints and awaits a stream;
  every other module drains one through ``run_to_memory`` or
  ``fold_stream``.
- ``io.py`` alone may name a relation in the session catalog, and it
  does not: every SQL text binds its relations as ``spark.sql``
  DataFrame arguments, through ``io.sql`` when the oracle shares it.
- ``io.py`` alone reads an on-disk relation as parquet, batch or stream;
  every other module reads through ``load``, ``read_staged`` or
  ``read_stream``, so one rule resolves, normalizes and memoizes it.
  This row reads each module's syntax tree: any ``.parquet(...)`` call
  whose receiver is a call chain through ``.read`` counts, whatever its
  arguments nest. A reader first bound to a name and then called is not
  traced. The two format features under test in ``sources/`` (a
  manifest-pruned file list and a ``mergeSchema`` read) are the row's
  named exceptions.
- ``functions/scoring.py`` alone runs a batch-gradient-descent round
  (the Spark weight carry ``F.max(w0)``, the oracle's
  ``exp(-({w0}``); every model trains through ``fit_logistic`` and
  every oracle fits through ``gd_oracle``.
- ``operators/aggregates.py`` alone picks a value by its rank inside a
  histogram bin (``rk_in_bin``); every exact binned quantile goes
  through ``rank_select``.
- ``session.py`` (the required conf, once per session) and
  ``streaming/jobs.py`` (overrides held only around ``start()``) alone
  set session conf; every other module leaves the conf as it found it.

An owner may be a tuple of modules that share the row; a third element
names a row whose owner already has one. A regex is matched against
each module's whole text, so a call chain may span lines.

One text per shared relation: each ``SHARED`` row is a marker of a
relation that several queries derive, and it must occur exactly once
under ``sigma_rx7_spark/``, in the builder's module. Every other query
calls that builder instead of pasting its text:

- ``llm/dedup.py``: the md5-LSH band join of ``lsh_verified_oracle``,
  the word shingles of ``shingles_oracle``, the recursive
  connected-components walk of ``components_oracle`` and the Spark
  cluster-size window of ``cluster_sizes``;
- ``llm/pipeline.py``: the token gate of ``QUALITY_ORACLE``;
- ``llm/similarity.py``: the unit-normalized embeddings of
  ``UNIT_ORACLE``;
- ``domain/rules.py``: the era-gap window of ``ERA_ORACLE``;
- ``operators/timeseries.py``: the daily purchase revenue of
  ``daily_revenue`` / ``DAILY_REVENUE_ORACLE`` and the ACF lag join of
  ``acf_rho`` / ``ACF_ORACLE``, one marker per engine;
- ``operators/incremental.py``: the CDC op column of ``CDC_ORACLE``.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "sigma_rx7_spark"


def _through_read(expr):
    """Whether a receiver is a call chain that passes ``.read``."""
    while isinstance(expr, (ast.Call, ast.Attribute)):
        if isinstance(expr, ast.Attribute) and expr.attr == "read":
            return True
        expr = expr.func if isinstance(expr, ast.Call) else expr.value
    return False


def _parquet_reads(text):
    """(line, source) of each ``readStream`` and each ``.parquet(...)``
    call on a ``.read`` chain."""
    for node in ast.walk(ast.parse(text)):
        if isinstance(node, ast.Attribute) and node.attr == "readStream":
            yield node.lineno, "readStream"
        elif (isinstance(node, ast.Call)
              and isinstance(node.func, ast.Attribute)
              and node.func.attr == "parquet"
              and _through_read(node.func.value)):
            yield node.lineno, " ".join(
                ast.get_source_segment(text, node.func).split())


OWNED = [
    ("materialize.py", re.compile(
        r"\.persist\(|\.cache\(\)|\.checkpoint\(|localCheckpoint\("
        r"|\.unpersist\(")),
    ("staging.py", re.compile(
        r"begin_staging\(|mark_staged\(|staging_ok\(|[\"']\.staging\b")),
    ("kernels.py", re.compile(r"toArrow\(|\.to_pylist\(")),
    ("streaming/jobs.py", re.compile(
        r"\.start\(|awaitTermination\(|foreachBatch\(|checkpointLocation"
        r"|mkdtemp\(")),
    ("io.py", re.compile(
        r"createOrReplaceTempView\(|createTempView\(|createGlobalTempView\("
        r"|registerTempTable\(")),
    (("session.py", "streaming/jobs.py"), re.compile(r"conf\.(set|unset)\(")),
    ("io.py", _parquet_reads, "io.py:read"),
    ("functions/scoring.py", re.compile(r"exp\(-\(\{w0\}|F\.max\(w0\)")),
    ("operators/aggregates.py", re.compile(r"rk_in_bin")),
]

# Named exceptions by row id: (module, matched source).
EXCEPTIONS = {
    "io.py:read": {
        ("sources/layout.py", "spark.read.schema(dschema).parquet"),
        ("sources/formats.py",
         'spark.read.option("mergeSchema", "true").parquet'),
    },
}


def _owners(owner):
    return (owner,) if isinstance(owner, str) else owner


def _rows():
    for o, p, *rid in OWNED:
        rid = rid[0] if rid else "|".join(_owners(o))
        yield pytest.param(o, p, EXCEPTIONS.get(rid, set()), id=rid)


def _matches(pattern, text):
    """(line, source) of each match of a regex or a tree matcher."""
    if callable(pattern):
        return pattern(text)
    return ((text.count("\n", 0, m.start()) + 1, " ".join(m.group().split()))
            for m in pattern.finditer(text))


@pytest.mark.parametrize("owner, pattern, allowed", _rows())
def test_pattern_only_in_owner_module(owner, pattern, allowed):
    mine = {PKG / o for o in _owners(owner)}
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path in mine:
            continue
        rel, text = str(path.relative_to(PKG)), path.read_text()
        hits += [f"{rel}:{line}: {src}"
                 for line, src in _matches(pattern, text)
                 if (rel, src) not in allowed]
    assert not hits, "\n".join(hits)


# (builder, its module, a marker of the relation's text)
SHARED = [
    ("lsh_verified_oracle", "llm/dedup.py", "a.band_hash = b.band_hash"),
    ("shingles_oracle", "llm/dedup.py",
     "list_slice(t, i, i + {SHINGLE_N - 1})"),
    ("components_oracle", "llm/dedup.py", "reach AS ("),
    ("cluster_sizes", "llm/dedup.py",
     'over(Window.partitionBy("cluster_id"))'),
    ("QUALITY_ORACLE", "llm/pipeline.py", ">= {MIN_TOKENS}"),
    ("UNIT_ORACLE", "llm/similarity.py", "1e-300)) AS nv"),
    ("ERA_ORACLE", "domain/rules.py", "AND 1 PRECEDING) + INTERVAL"),
    ("daily_revenue", "operators/timeseries.py", "== ACF_EVENT"),
    ("DAILY_REVENUE_ORACLE", "operators/timeseries.py",
     "event_type = '{ACF_EVENT}'"),
    ("acf_rho", "operators/timeseries.py", 'F.col("va") * F.col("vb")'),
    ("ACF_ORACLE", "operators/timeseries.py", "JOIN daily a ON TRUE"),
    ("CDC_ORACLE", "operators/incremental.py", "THEN 'D' ELSE 'U'"),
]


@pytest.mark.parametrize("home, marker", [r[1:] for r in SHARED],
                         ids=[r[0] for r in SHARED])
def test_shared_relation_has_one_text(home, marker):
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        for n, line in enumerate(path.read_text().splitlines(), 1):
            hits += [f"{rel}:{n}"] * line.count(marker)
    assert len(hits) == 1 and hits[0].startswith(home + ":"), hits
