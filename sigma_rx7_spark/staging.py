"""The one staging rule for deterministic build artifacts.

Some queries build an artifact once and serve it many times: trained IVF
centroids and indexes, PQ codes, domain and media fixtures, the MV
rollup, z-ordered / indexed / partitioned copies of a harness table.
Every such artifact lives at ``path(kind, sf_dir)`` and is built through
``stage``; oracle templates call ``path`` too, so the DuckDB side reads
the exact bytes the Spark plan consumed. Spark and DuckDB read a staged
parquet directory like any other table, so an artifact needs only three
things, all owned here:

- **Where it lives:** ``<repo>/.staging/<kind>_<key>``, with one key
  rule: the full sanitized ``sf_dir`` minus any trailing slash. Two
  roots with the same leaf name stage apart; ``/a/sf`` and ``/a/sf/``
  share one artifact.
- **When it is stale:** the stamp is code + declared inputs. Code is
  ``src_stamp`` of the builder and the upstream code named in
  ``code=``: ``inspect.getsource`` makes any change to that code a new
  stamp, with no version integer to forget (a docstring edit costs one
  rebuild, which is cheap; stale bytes are silent and wrong).
  Module-level constants a builder merely reads (EMB_DIM, PQ_SUBS …)
  go in ``extra``. Inputs are the (path, mtime, size) of every file of
  each declared harness table under ``sf_dir``, resolved the way
  ``io.load`` resolves it, so rewriting an input in place rebuilds the
  artifact even inside the same process.
- **When it is complete:** two process-safety rules, learned from
  incidents.

  1. A COMPLETED staging is never overwritten (a concurrent session
     that re-staged a path mid-read made the other process's planned
     scans fail with FAILED_READ_FILE). Completion = the
     ``_layout_v.txt`` marker holds the expected stamp AND every
     staged part carries the ``_SUCCESS`` Hadoop committer file.
  2. A rebuild first invalidates the marker: ``begin_staging`` writes
     a ``BUILDING`` sentinel before the first byte moves. No stamp
     equals the sentinel, so a process on any code revision treats a
     multi-part staging as incomplete until ``mark_staged`` restores a
     real stamp after the last part lands.
"""

from __future__ import annotations

import hashlib
import inspect
import os
from collections.abc import Callable, Iterable

from .io import _table_fingerprint

_BUILDING = "BUILDING"  # sentinel: staging in progress, never a stamp
_ROOT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".staging")


def sf_key(sf_dir: str) -> str:
    """The one sf key rule: the full sanitized path, trailing slash
    dropped. Also names sf-scoped catalog tables."""
    return "".join(ch if ch.isalnum() else "_" for ch in sf_dir.rstrip("/"))


def path(kind: str, sf_dir: str | None = None) -> str:
    """Where the ``kind`` artifact of ``sf_dir`` lives. The ``kind``
    prefix keeps the leaf name from starting with ``_``, which Spark's
    file index would treat as hidden. Fixtures with no sf pass None."""
    if sf_dir is None:
        return os.path.join(_ROOT, kind)
    return os.path.join(_ROOT, f"{kind}_{sf_key(sf_dir)}")


def src_stamp(*builders, extra: str = "") -> str:
    """12-hex digest of the builders' source (+ optional extra salt).

    Deterministic across processes and hosts for the same code revision
    (``inspect.getsource`` returns the literal file text), different
    whenever any builder's source changes — the automatic version bump.
    """
    h = hashlib.sha256()
    for b in builders:
        h.update(inspect.getsource(b).encode())
    if extra:
        h.update(b"\x00" + extra.encode())
    digest = h.hexdigest()[:12]
    assert digest != _BUILDING
    return digest


def staging_ok(path: str, stamp: str, *subdirs: str) -> bool:
    """True iff ``path`` holds a COMPLETED staging for ``stamp``: the
    marker matches (a BUILDING sentinel never does) and every staged
    dir has its _SUCCESS."""
    try:
        with open(os.path.join(path, "_layout_v.txt")) as fh:
            marker = fh.read().strip()
        # the sentinel matches NOTHING — not even a caller who passes
        # the literal string (src_stamp can't emit it, but a staging
        # mid-rebuild must never read as complete under any stamp)
        if marker == _BUILDING or marker != stamp:
            return False
    except OSError:
        return False
    return all(os.path.exists(os.path.join(path, d, "_SUCCESS"))
               for d in (subdirs or ("",)))


def begin_staging(path: str) -> None:
    """Invalidate ``path``'s marker BEFORE rewriting any staged bytes.

    Makes the mid-rebuild state unambiguous to every process and code
    version: the sentinel matches no stamp, so concurrent readers on
    ANY revision see "incomplete" until mark_staged lands. Must be
    called before the first subdir write of a multi-part staging."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_layout_v.txt"), "w") as fh:
        fh.write(_BUILDING)


def mark_staged(path: str, stamp: str) -> None:
    """Record ``stamp`` as the completed layout of ``path`` — only call
    after every staged part (and its _SUCCESS) is on disk."""
    with open(os.path.join(path, "_layout_v.txt"), "w") as fh:
        fh.write(stamp)


def _inputs_fingerprint(sf_dir: str, tables: Iterable[str]) -> str:
    fps = []
    for t in tables:
        fp = _table_fingerprint(sf_dir, t)
        if not fp or any(size < 0 for _, _, size in fp):
            # An unmatched layout must fail here, naming the cause: a
            # constant fingerprint would freeze the stamp and serve a
            # stale artifact in exactly the layout nobody anticipated.
            raise FileNotFoundError(
                f"no parquet files for table {t!r} under {sf_dir!r} — "
                "cannot fingerprint the staging's declared input")
        fps += [f"{f}:{mtime}:{size}" for f, mtime, size in fp]
    return "|".join(fps)


_CODE_STAMPS: dict[tuple, str] = {}  # (code objects, extra) -> src_stamp
_DONE: set[tuple[str, str]] = set()  # (path, stamp) verified complete


def stage(kind: str, sf_dir: str | None, build: Callable[[str], None], *,
          code: tuple = (), inputs: tuple[str, ...] = (),
          parts: tuple[str, ...] = (), extra: str = "") -> str:
    """Return ``path(kind, sf_dir)`` holding a completed staging of
    ``build``, building it first if needed.

    ``build(path)`` writes the artifact: every part named in ``parts``
    (or ``path`` itself when there are none) must end with a
    ``_SUCCESS``. ``code`` names the upstream code the artifact
    depends on beyond ``build`` (a chained artifact lists the builders
    of what it consumes); ``inputs`` names the harness tables it reads
    from ``sf_dir``. A repeat call in one process costs one ``os.stat``
    per input file."""
    dest = path(kind, sf_dir)
    fns = (build, *code)
    ckey = (tuple(getattr(f, "__code__", f) for f in fns), extra)
    stamp = _CODE_STAMPS.get(ckey)
    if stamp is None:
        stamp = _CODE_STAMPS[ckey] = src_stamp(*fns, extra=extra)
    if inputs:
        stamp = hashlib.sha256(
            f"{stamp}|{_inputs_fingerprint(sf_dir, inputs)}".encode()
        ).hexdigest()[:12]
    if (dest, stamp) not in _DONE:
        if not staging_ok(dest, stamp, *parts):
            begin_staging(dest)
            build(dest)
            mark_staged(dest, stamp)
        _DONE.add((dest, stamp))
    return dest
