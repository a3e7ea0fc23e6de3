"""The one materialization rule: only ``sigma_rx7_spark/materialize.py``
may persist, cache, checkpoint or unpersist a relation; every other
module shares a relation through ``materialize.share``."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "sigma_rx7_spark"
FORBIDDEN = re.compile(
    r"\.persist\(|\.cache\(\)|\.checkpoint\(|localCheckpoint\(|\.unpersist\(")


def test_materialization_only_in_materialize_module():
    hits = [f"{path.relative_to(PKG)}:{i}: {line.strip()}"
            for path in sorted(PKG.rglob("*.py"))
            if path != PKG / "materialize.py"
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if FORBIDDEN.search(line)]
    assert not hits, "\n".join(hits)
