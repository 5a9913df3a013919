"""Session-lifetime memo for expensive derivations shared by a FAMILY
of registered queries (the generalization of
operators/dedup._SHARED_SHINGLES and
operators/similarity._SHARED_EMB).

Several query families re-derive the same intermediate frame when run
in one session — the Kaplan-Meier risk table (conversion curve +
Greenwood variance), the min-max-scored + globally-ranked calibration
frame (ECE/MCE/Brier, reliability deciles, ROC deciles), the
per-modality exact medians (Brown-Forsythe, exact percentiles). Each
derivation is itself a multi-stage pipeline (grouped distributed
ranking = count/sample/bucket/offset stages), so re-deriving it per
query multiplies the most expensive stages of the session.

The memo returns the SAME DataFrame object per (session, sf_dir, kind)
key, materialized ONCE via an eager ``localCheckpoint``:

- eager: the internal stages of the build pipeline never re-derive the
  upstream DAG (a lazy ``persist`` materializes mid-pipeline — the
  round-7 `interarrival_percentiles_by_modality` lesson);
- localCheckpoint (not ``cache``): the frame survives
  ``spark.catalog.clearCache()`` — bench's EXTRA sweep evicts
  accumulated per-query persists between queries, and the shared
  family frames must NOT be re-computed by every family member after
  each eviction. The checkpointed frames are tiny (risk table ~
  |distinct durations| rows; grouped medians ~ G rows) or
  narrow-column corpus projections, so pinning them for the session is
  bounded;
- lineage truncation is the documented graph.py tradeoff: on executor
  loss the frame recomputes from the checkpoint's parent only in local
  mode semantics; at cluster scale prefer reliable checkpointing for
  multi-hour sessions.

Entries from stopped sessions are evicted on access (their checkpointed
RDDs are unusable through the live session); entries for other sf_dirs
of the live session are kept on purpose — bench walks two sf dirs in
one session.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_SHARED: dict[tuple[str, str, str], DataFrame | list[DataFrame]] = {}
# Per-key RLocks (created under the global bookkeeping lock): builders
# of DIFFERENT (sf_dir, kind) keys must not serialize behind one slow
# eager build, while same-key callers still wait-and-reuse. RLock, not
# Lock, per key: builders NEST (e.g. the cal_rank_asc build lambda
# reads the memoized scored fact) — a non-reentrant lock would
# self-deadlock on the same thread. Nesting across keys is acyclic
# (a build only calls shared_frame for its own upstream), so per-key
# locks cannot deadlock each other.
_LOCKS: dict[tuple[str, str, str], threading.RLock] = {}
_LOCK = threading.RLock()  # guards _SHARED/_LOCKS bookkeeping only


def shared_frame(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the session-lifetime shared frame for (sf_dir, kind),
    building + eagerly materializing it on first access.

    The key is path-normalized ('/x' and '/x/' share one entry) and the
    build/insert is serialized under a PER-KEY lock so concurrent query
    threads (foreachBatch workers, a parallel test runner) can't
    double-build — a duplicate checkpoint would pin a second
    session-lifetime copy. The per-key lock is held across the eager
    build on purpose: the second caller of the SAME key must WAIT for
    (and reuse) the first materialization, while builders of different
    keys proceed concurrently."""
    key = (
        spark.sparkContext.applicationId,
        os.path.normpath(sf_dir),
        kind,
    )
    with _LOCK:
        # Evict only the _SHARED frames of stale applications; _LOCKS
        # entries stay. A builder thread of the old app may still hold
        # its per-key lock (captured via setdefault before this
        # eviction) — popping the lock would hand a FRESH lock to the
        # next same-key caller and let two builds run concurrently,
        # pinning the duplicate session-lifetime checkpoint the lock
        # exists to prevent. Lock objects are tiny; keys are bounded by
        # (apps seen in-process) x (sf dirs) x (kinds).
        for k in [k for k in _SHARED if k[0] != key[0]]:
            _SHARED.pop(k)
        df = _SHARED.get(key)
        if df is not None:
            return df
        key_lock = _LOCKS.setdefault(key, threading.RLock())
    with key_lock:
        # re-check under the key lock: a concurrent same-key caller may
        # have finished the build while this thread waited
        with _LOCK:
            df = _SHARED.get(key)
        if df is None:
            df = build().localCheckpoint(eager=True)
            with _LOCK:
                _SHARED[key] = df
        return df


def shared_frames(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[], list[DataFrame]],
) -> list[DataFrame]:
    """Plural variant of :func:`shared_frame` for builders whose
    expensive derivation is a LIST of frames materialized together
    (typically via ``ranking.overlap_checkpoint`` so the independent
    passes back-fill one another — guide §2.6). Unlike the scalar form,
    ``build`` is responsible for materialization (it usually already
    returns eager localCheckpoints); the list is stored verbatim under
    ``kind`` and the SAME list is returned on every later call, making
    every rebuild of the owning query job-free (round-14: per-build
    eager pins re-ran 13-60 jobs per plan build AND pinned a fresh
    session-lifetime checkpoint copy each time)."""
    key = (
        spark.sparkContext.applicationId,
        os.path.normpath(sf_dir),
        kind,
    )
    with _LOCK:
        for k in [k for k in _SHARED if k[0] != key[0]]:
            _SHARED.pop(k)
        dfs = _SHARED.get(key)
        if dfs is not None:
            return list(dfs)
        key_lock = _LOCKS.setdefault(key, threading.RLock())
    with key_lock:
        with _LOCK:
            dfs = _SHARED.get(key)
        if dfs is None:
            dfs = build()
            with _LOCK:
                _SHARED[key] = dfs
        return list(dfs)
