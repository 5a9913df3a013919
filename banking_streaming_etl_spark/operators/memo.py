"""The session memo: the ONE store for every derivation shared across
the queries of a session.

Each entry is keyed (application, normalized sf_dir, kind) and holds
whatever its ``build`` returned — a loaded table, a lazy derived plan,
a pinned frame, a list of pinned frames, a driver-side model tuple.
The store never materializes anything itself: each caller picks its
pin kind inside its ``build`` lambda, because the right kind depends on
the derivation:

- no materialization (``datamodel.load_table``, the derived
  enrich/score plans): the value is the immutable lazy DataFrame
  object. Re-reading a table pays file listing + footer inference
  (~0.2-0.3 s of driver time per table) and rebuilding the enrich+score
  graph pays py4j roundtrips plus re-analysis (~0.5-2 s per build);
  returning the same object skips both and lets the cache manager
  dedup scans by reference;
- ``.cache()`` (the shared shingle scans, the normed embeddings, the
  bloom probe frame): one InMemoryRelation per key instead of one
  leaked cache per operator call; bench's EXTRA sweep may evict it;
- eager ``localCheckpoint`` (:func:`shared_frame` and the family
  builders that return lists of checkpointed frames): the frame
  survives ``spark.catalog.clearCache()``, so a family of queries
  never re-derives its shared frame after bench's between-query
  eviction. Eager, because a lazy pin materializes mid-pipeline and
  the build's own stages re-derive the upstream DAG (the round-7
  `interarrival_percentiles_by_modality` lesson). The pinned frames are
  tiny (a KM risk table, G grouped medians) or narrow projections;
  lineage truncation is the documented graph.py trade — at cluster
  scale prefer reliable checkpointing for multi-hour sessions.

Entries of stopped applications are evicted on access (their plans and
blocks are unusable through the live session); entries for other
sf_dirs of the live session are kept on purpose — bench walks two sf
dirs in one session.
"""

from __future__ import annotations

import os
import threading
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_SHARED: dict[tuple[str, str, str], object] = {}
# Per-key RLocks (created under the global bookkeeping lock): builders
# of DIFFERENT keys must not serialize behind one slow eager build,
# while same-key callers still wait-and-reuse. RLock, not Lock, per
# key: builders NEST (the `derived:enriched` build loads tables, the
# cal_rank_asc build reads the pinned scored fact) — a non-reentrant
# lock would self-deadlock on the same thread. Nesting across keys is
# acyclic (a build only reads its own upstream), so per-key locks
# cannot deadlock each other.
_LOCKS: dict[tuple[str, str, str], threading.RLock] = {}
_LOCK = threading.RLock()  # guards _SHARED/_LOCKS bookkeeping only


def shared(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[], T],
) -> T:
    """Return the session-lifetime value for (sf_dir, kind), running
    ``build()`` on first access and returning the SAME object after.

    The key is path-normalized ('/x' and '/x/' share one entry) and the
    build/insert is serialized under a PER-KEY lock so concurrent query
    threads (foreachBatch workers, a parallel test runner) can't
    double-build — a duplicate pin would hold a second session-lifetime
    copy. The per-key lock is held across the build on purpose: the
    second caller of the SAME key waits for (and reuses) the first
    build, while builders of different keys proceed concurrently."""
    key = (
        spark.sparkContext.applicationId,
        os.path.normpath(sf_dir),
        kind,
    )
    with _LOCK:
        # Evict only the _SHARED values of stale applications; _LOCKS
        # entries stay. A builder thread of the old app may still hold
        # its per-key lock (captured via setdefault before this
        # eviction) — popping the lock would hand a FRESH lock to the
        # next same-key caller and let two builds run concurrently. Lock
        # objects are tiny; keys are bounded by (apps seen in-process) x
        # (sf dirs) x (kinds).
        for k in [k for k in _SHARED if k[0] != key[0]]:
            _SHARED.pop(k)
        if key in _SHARED:
            return _SHARED[key]
        key_lock = _LOCKS.setdefault(key, threading.RLock())
    with key_lock:
        # re-check under the key lock: a concurrent same-key caller may
        # have finished the build while this thread waited
        with _LOCK:
            if key in _SHARED:
                return _SHARED[key]
        value = build()
        with _LOCK:
            _SHARED[key] = value
        return value


def shared_frame(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """:func:`shared` of ``build()`` pinned by an eager
    ``localCheckpoint`` — the family-derivation pin."""
    return shared(
        spark, sf_dir, kind, lambda: build().localCheckpoint(eager=True)
    )


def pinned_rdd(df: DataFrame):
    """The JVM RDD holding a ``localCheckpoint``'d frame's blocks: the
    checkpointed Dataset's analyzed plan IS the LogicalRDD over it. It
    is the only handle through which the blocks can be released
    (``pinned_rdd(df).unpersist(False)``); a later action on a plan
    that reads a released pin fails loudly."""
    return df._jdf.queryExecution().analyzed().rdd()
