"""The benchmark's input tables are the pinned sf0.01 test tables."""

from __future__ import annotations

import hashlib
import os

DATA = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "data", "sf0.01")


def test_tables_match_their_checksums():
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f if line.strip())
    for name, digest in sums.items():
        with open(os.path.join(DATA, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, name
    tables = {n for n in os.listdir(DATA) if n.endswith(".parquet")}
    assert tables == set(sums)


def test_every_table_the_library_reads_is_there():
    from sigma_rx7_spark.io import TABLES

    assert {f"{t}.parquet" for t in TABLES} <= set(os.listdir(DATA))
