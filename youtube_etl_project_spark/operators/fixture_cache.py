"""Per-fixture cache for build-once/probe-many state, in two tiers.

Both tiers key an entry by a cheap CONTENT fingerprint of its source
dir (sorted relpath + size + mtime_ns of its files; no data read), so
a dir whose contents change in process misses instead of serving
stale state.

- FRAMES on disk (:func:`cached_build`): derived frames and persisted
  indexes are written once to a temp dir minted here; every minted dir
  is removed at interpreter exit, including ones superseded by a
  fingerprint change.
- MODELS in memory (:func:`cached_model`): trained, model-sized plain
  data (codebooks, weight vectors, adjacency maps) held as Python
  values, one entry per ``(prefix, src_dir)``.

At scale the same contract holds with durable storage: the fingerprint
becomes the source table's snapshot/commit id and each tier a small
catalog table.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from typing import Callable, TypeVar

T = TypeVar("T")

# Every temp dir ever minted (including ones superseded by a fingerprint
# change) — reclaimed at interpreter exit.
_MINTED: list[str] = []

# (prefix, sf_dir, fingerprint) -> cache dir path.
_CACHE: dict[tuple[str, str, str], str] = {}

# (prefix, src_dir) -> (fingerprint, trained value).
_MODELS: dict[tuple[str, str], tuple[str, object]] = {}


def fingerprint(sf_dir: str) -> str:
    """Cheap content fingerprint of a fixture dir: the sha256 of the
    sorted (relative path, size, mtime_ns) listing of its files. Reads
    directory metadata only — never file contents — so it is safe to
    evaluate per query call."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(sf_dir):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            try:
                st = os.stat(p)
            except OSError:  # racing writer; fold the miss into the key
                h.update(f"{p}:gone;".encode())
                continue
            rel = os.path.relpath(p, sf_dir)
            h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def cached_build(
    prefix: str,
    sf_dir: str,
    build: Callable[[str], None],
    marker: str = "_SUCCESS",
) -> str:
    """Return the cache dir for ``(prefix, sf_dir)`` at the fixture's
    CURRENT fingerprint, invoking ``build(path)`` to populate a fresh
    temp dir on miss. ``marker`` is a path relative to the dir whose
    existence revalidates a hit (e.g. ``edges`` for a persisted graph,
    ``_SUCCESS`` for a single parquet frame)."""
    key = (prefix, sf_dir, fingerprint(sf_dir))
    path = _CACHE.get(key)
    if path is not None and os.path.exists(os.path.join(path, marker)):
        return path
    path = tempfile.mkdtemp(prefix=prefix)
    _MINTED.append(path)
    build(path)
    _CACHE[key] = path
    return path


def cached_model(prefix: str, src_dir: str, train: Callable[[], T]) -> T:
    """Return ``train()``'s value for ``src_dir`` at its CURRENT
    fingerprint, training only on a miss.

    Memoizing is sound only because ``train`` must be a deterministic
    function of ``src_dir``'s contents: the same contents always train
    the same value, so the fingerprint is the entry's whole validity
    condition. One entry is kept per ``(prefix, src_dir)``; a changed
    fingerprint retrains and replaces it. If ``train`` raises, nothing
    is stored. The oracle twins of the queries that use it train in SQL
    on every run, so caching hides no trainer from the hash gate."""
    key = (prefix, src_dir)
    fp = fingerprint(src_dir)
    hit = _MODELS.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = train()
    _MODELS[key] = (fp, value)
    return value


@atexit.register
def _cleanup() -> None:  # pragma: no cover - interpreter teardown
    for d in _MINTED:
        shutil.rmtree(d, ignore_errors=True)
    _MINTED.clear()
    _CACHE.clear()
