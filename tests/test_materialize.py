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
- ``session.py`` (the required conf, once per session) and
  ``streaming/jobs.py`` (overrides held only around ``start()``) alone
  set session conf; every other module leaves the conf as it found it.

An owner may be a tuple of modules that share the row; a third element
names a row whose owner already has one.
"""

from __future__ import annotations

import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "sigma_rx7_spark"
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
    ("io.py", re.compile(r"\.read\.parquet\(|\breadStream\b"), "io.py:read"),
]


def _owners(owner):
    return (owner,) if isinstance(owner, str) else owner


@pytest.mark.parametrize(
    "owner, pattern",
    [pytest.param(o, p, id=rid[0] if rid else "|".join(_owners(o)))
     for o, p, *rid in OWNED])
def test_pattern_only_in_owner_module(owner, pattern):
    mine = {PKG / o for o in _owners(owner)}
    hits = [f"{path.relative_to(PKG)}:{i}: {line.strip()}"
            for path in sorted(PKG.rglob("*.py"))
            if path not in mine
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if pattern.search(line)]
    assert not hits, "\n".join(hits)
