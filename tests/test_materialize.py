"""One owner per mechanism: each row names the only module under
``sigma_rx7_spark/`` allowed to match its pattern.

- ``materialize.py`` alone may persist, cache, checkpoint or unpersist a
  relation; every other module shares one through ``materialize.share``.
- ``staging.py`` alone knows where a staged artifact lives and when it
  is complete; every other module builds one through ``staging.stage``
  and names one through ``staging.path``.
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
]


@pytest.mark.parametrize("owner, pattern", OWNED,
                         ids=[owner for owner, _ in OWNED])
def test_pattern_only_in_owner_module(owner, pattern):
    hits = [f"{path.relative_to(PKG)}:{i}: {line.strip()}"
            for path in sorted(PKG.rglob("*.py"))
            if path != PKG / owner
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if pattern.search(line)]
    assert not hits, "\n".join(hits)
