"""Tracked-persist registry (r11 ADVICE).

Several operators persist an intermediate that ESCAPES the call —
the returned lazy DataFrame keeps reading the cached blocks, so the
operator cannot unpersist before returning (``mutual_knn_edges``'s
kNN input, the cell-assignment frames behind the pair/kNN builders,
the LSH band tables). In a one-query job the session exits and the
blocks die with it; in a long-lived session (bench loops, notebooks)
each invocation leaks its blocks for the session lifetime and the
stale storage memory squeezes execution memory for later queries
(measured in bench.py: q38 6.5 s late in a suite vs 1.1 s alone).

Every such escaping persist is registered here via ``track``;
callers that run many queries in one session release them between
queries with ``release_persisted()`` — surgical, unlike
``spark.catalog.clearCache()`` which also drops caches the caller
built deliberately. ``unpersist`` on an already-released or
never-materialized frame is a safe no-op, so releasing is always
safe; the only cost is recomputation if the frame is used again.
"""

from __future__ import annotations

import os
import threading

# Process-global registry, guarded by _LOCK so concurrent callers
# (foreachBatch micro-batches, threaded query runners) can track and
# release without interleaving (r12 ADVICE). The registry holds a
# strong reference per tracked frame — the CONTRACT is that
# long-lived consumers call release_persisted() between queries;
# a consumer that never releases accumulates one entry per operator
# call for the session lifetime (bounded by the session, not by GC).
_TRACKED: list = []
_LOCK = threading.Lock()


def track(df):
    """Register an escaping persisted DataFrame; returns it.

    Callers that run many queries in one session MUST pair operator
    invocations with a ``release_persisted()`` between queries (the
    check_oracle/bench/scale_probe loops all do) — tracking alone
    never frees anything."""
    with _LOCK:
        _TRACKED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every tracked frame; returns how many were
    released. Safe to call at any time — frames still referenced by
    un-executed lazy plans simply recompute on next use. The drain
    is atomic against concurrent track() calls: frames tracked
    during the drain land in the next release."""
    with _LOCK:
        drained = _TRACKED[:]
        del _TRACKED[: len(drained)]
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def truncate_lineage(df, eager: bool = True):
    """Cut a DataFrame's lineage at this point: reliable
    ``.checkpoint()`` when ``$SPARK_GRAFT_CHECKPOINT_DIR`` names a
    checkpoint directory, ``localCheckpoint`` otherwise.

    The iterative loops (CC, NN-Descent, PageRank/HITS, k-core,
    coverage) truncate per-round lineage so plans stay bounded —
    correct and free locally, but localCheckpoint blocks live on
    executors, so on a real cluster one lost executor aborts a long
    fixpoint job mid-loop. The environment variable is the one switch
    to reliable checkpoints for every truncation site. The default
    stays local: no extra I/O, identical rows either way.
    """
    cdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if cdir:
        df.sparkSession.sparkContext.setCheckpointDir(cdir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
