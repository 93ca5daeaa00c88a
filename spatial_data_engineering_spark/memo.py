"""One memo layer: reuse a session's intermediate results across its queries.

``memo(spark, tag, sources, build, tier=...)`` returns ``build()``'s
value, built once per key ``(tag, fingerprints of sources, params)``.

- ``tier="session"``: the value lives on the SparkSession object and dies
  with it.
- ``tier="disk"``: ``build()`` returns a tuple of DataFrames, written once
  to ``<root>/<tag>-<key hash>/<i>`` (to ``.tmp-<pid>`` first, then
  renamed) and served as the parquet read-back, so any later session
  reads the files instead of rebuilding.  If the write fails, the build is
  served session-pinned instead.  ``<root>`` is ``$SPARK_GRAFT_PAIR_CACHE``,
  read on every call; the default is a per-process temp directory, so an
  unconfigured run never inherits another process's tables.

A source that cannot be statted (remote, virtual, missing) is built
uncached.  One global lock guards dict operations only; a per-key RLock is
held across ``build()``, so concurrent cold callers build once and a build
may re-enter ``memo()`` for another tag (tag dependencies form a DAG).
``COUNTS[tag]`` counts ``builds``, ``disk_hits`` and ``hits`` per process.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import tempfile
import threading
from collections import Counter, defaultdict

ROOT_ENV = "SPARK_GRAFT_PAIR_CACHE"
_DEFAULT_ROOT = os.path.join(tempfile.gettempdir(),
                             f"spark_graft_pair_cache_{os.getpid()}")
_ATTR = "_sde_memo"
_LOCK = threading.Lock()
COUNTS: defaultdict[str, Counter] = defaultdict(Counter)

# Pre-memo names perfbench's MemoProbe still reads: eight operators.dedup
# counter globals, each the sum of the COUNTS of the tags it counted (the
# span table was built inside a frame memo, which counted its disk reads
# as builds), and two session caches, each sized by one tag's entries.
_FRAME_TAGS = ("minhash_frames", "simhash16", "simhash64",
               "neardup_components", "cov_moments", "mmr_cand",
               "semdedup_assign", "curation_stages")
LEGACY_COUNTERS = {
    "_PAIR_CACHE_COMPUTES": [("pairs", "builds")],
    "_PAIR_CACHE_DISK_HITS": [("pairs", "disk_hits")],
    "_SIG_CACHE_COMPUTES": [("sigs", "builds"), ("ehash", "builds")],
    "_SIG_CACHE_DISK_HITS": [("sigs", "disk_hits"), ("ehash", "disk_hits")],
    "_SSJ_CACHE_COMPUTES": [("ssj_candidates", "builds")],
    "_SPAN_CACHE_COMPUTES": [("spans", "builds")],
    "_SPAN_CACHE_DISK_HITS": [("spans", "disk_hits")],
    "_DOC_FRAME_COMPUTES": [(t, "builds") for t in _FRAME_TAGS]
    + [("spans", "builds"), ("spans", "disk_hits")],
}
_LEGACY_ATTRS = {"_sde_kmeans_fit_cache": "kmeans_fit",
                 "_sde_pq_codebook_cache": "pq_codebooks"}


def legacy_counter(name: str) -> int:
    if name not in LEGACY_COUNTERS:
        raise AttributeError(name)
    return sum(COUNTS[tag][kind] for tag, kind in LEGACY_COUNTERS[name])


class _TagView:
    def __init__(self, entries: dict, tag: str):
        self.entries, self.tag = entries, tag

    def __len__(self):
        return sum(k[0] == self.tag for k in list(self.entries))


def fingerprint(path: str):
    """abspath + size + mtime_ns of a file or directory, plus each entry's
    name, size and mtime_ns for a directory (rewriting a part file does
    not change the directory's own stat); None if it cannot be statted."""
    try:
        st = os.stat(path)
        parts = ()
        if stat.S_ISDIR(st.st_mode):
            parts = tuple((n, s.st_size, s.st_mtime_ns)
                          for n in sorted(os.listdir(path))
                          for s in (os.stat(os.path.join(path, n)),))
    except OSError:
        return None
    return os.path.abspath(path), st.st_size, st.st_mtime_ns, parts


def _session_tier(spark):
    """(entries, per-key build locks) on ``spark``, or None when the
    session object takes no attributes."""
    tier = getattr(spark, _ATTR, None)
    if tier is None:
        with _LOCK:
            tier = getattr(spark, _ATTR, None)
            if tier is None:
                tier = ({}, {})
                try:
                    setattr(spark, _ATTR, tier)
                    for attr, tag in _LEGACY_ATTRS.items():
                        setattr(spark, attr, _TagView(tier[0], tag))
                except AttributeError:
                    return None
    return tier


def memo(spark, tag: str, sources, build, tier: str = "session",
         params: tuple = ()):
    """``build()``'s value for (tag, fingerprints of ``sources``, params);
    see the module docstring for the tiers."""
    fps = tuple(map(fingerprint, sources))
    store = None if None in fps else _session_tier(spark)
    if store is None:
        value = _build(tag, build)
        return _pinned(value) if tier == "disk" else value
    key, (entries, locks) = (tag, fps, params), store
    with _LOCK:
        if key in entries:
            COUNTS[tag]["hits"] += 1
            return entries[key]
        lock = locks.setdefault(key, threading.RLock())
    with lock:
        with _LOCK:
            if key in entries:  # a concurrent caller built it meanwhile
                COUNTS[tag]["hits"] += 1
                return entries[key]
        value = (_disk(spark, tag, key, build) if tier == "disk"
                 else _build(tag, build))
        with _LOCK:
            entries[key] = value
        return value


def forget(spark, *tags: str) -> None:
    """Drop ``spark``'s session-tier entries of ``tags`` (all if none), as
    a new session would start; disk-tier tables stay."""
    entries, locks = _session_tier(spark)
    with _LOCK:
        for d in (entries, locks):
            for k in [k for k in d if not tags or k[0] in tags]:
                del d[k]


def _build(tag: str, build):
    value = build()
    with _LOCK:
        COUNTS[tag]["builds"] += 1
    return value


def _pinned(frames) -> tuple:
    return tuple(df.localCheckpoint(eager=False) for df in frames)


def _disk(spark, tag: str, key: tuple, build) -> tuple:
    path = os.path.join(os.environ.get(ROOT_ENV, _DEFAULT_ROOT),
                        f"{tag}-{hashlib.md5(repr(key).encode()).hexdigest()}")
    if os.path.isdir(path):
        with _LOCK:
            COUNTS[tag]["disk_hits"] += 1
    else:
        frames = _build(tag, build)
        tmp = f"{path}.tmp-{os.getpid()}"
        try:
            for i, df in enumerate(frames):
                df.write.mode("overwrite").parquet(os.path.join(tmp, str(i)))
            os.rename(tmp, path)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(path):  # the write failed, not the race
                return _pinned(frames)
    n = sum(name.isdigit() for name in os.listdir(path))
    return tuple(spark.read.parquet(os.path.join(path, str(i)))
                 for i in range(n))
