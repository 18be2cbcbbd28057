"""Tracked persist() scope for operators whose returned DataFrames are built
on cached intermediates.

Several operators persist an intermediate that BOTH feeds multiple join
branches of the returned (lazy) DataFrame — the persist is what keeps an
expensive sketch/assignment UDF from re-running per branch (see the
persist-scope notes at each site).  Because the result is lazy, the operator
itself can never unpersist: the cache must outlive the caller's action.  The
contract is therefore **caller-owns-scope**:

* operators register each persist here via ``track(df)``;
* a caller that has materialized its results calls ``release_all()`` (or
  ``spark.catalog.clearCache()``) to free executor storage — bench.py and
  tools/check_parity.py do this after every query; a long-lived service
  should do it per request batch.

Without release, a session running many queries accumulates storage memory
(the executor-storage leak flagged in round 3).  ``localCheckpoint()`` sites
(connected components, canonicalize) are tracked SEPARATELY
(``track_checkpoint``): a checkpoint's blocks ARE its data — unpersisting
one truncates lineage, so a later recompute of a dependent DataFrame FAILS
rather than slows down.  ``release_all()`` therefore frees only plain
persists by default; ``release_all(checkpoints=True)`` additionally frees
the checkpoint tails, valid once every dependent result is materialized and
will not be re-executed (bench.py / check_parity.py call it between
queries; the iterative CC already unpersists each superseded round itself,
so the registered tail is O(1) blocks per operator call).
"""

from __future__ import annotations

from typing import Callable, Dict, List, Tuple, TypeVar

from pyspark.sql import DataFrame

T = TypeVar("T")

_TRACKED: List[DataFrame] = []
# id(checkpointed df) -> (SparkContext, frozenset of persistent RDD ids the
# checkpoint created, the DataFrame itself).  DataFrame.unpersist() goes
# through the CacheManager and does NOT touch localCheckpoint blocks (they
# belong to the underlying RDD), so checkpoints are freed JVM-side by RDD
# id.  The DataFrame reference is held ON PURPOSE: keyed by id() alone, a
# garbage-collected checkpoint df would let a LATER checkpoint reuse the
# same id() and silently overwrite this entry — leaking the earlier
# blocks past release_all (observed as a one-block leak under checkpoint
# churn).  Pinning the object makes id() stable for the entry's lifetime.
_CHECKPOINT_IDS: Dict[int, Tuple[object, frozenset, DataFrame]] = {}


def track(df: DataFrame) -> DataFrame:
    """persist() a DataFrame and register it for ``release_all()``."""
    df.persist()
    _TRACKED.append(df)
    return df


def _persistent_rdd_ids(sc) -> set:
    jmap = sc._jsc.sc().getPersistentRDDs()
    ids, it = set(), jmap.keysIterator()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _free_rdd_ids(sc, ids) -> None:
    try:
        jmap = sc._jsc.sc().getPersistentRDDs()
        for i in ids:
            if jmap.contains(i):
                jmap.apply(i).unpersist(False)
    except Exception:  # session already stopped — nothing to free
        pass


def checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint()`` (eager) + register the blocks it materialized
    for ``free_checkpoint`` / ``release_all(checkpoints=True)``.

    The RDD ids are captured by diffing the JVM's persistent-RDD registry
    around the checkpoint call — sound because the driver is
    single-threaded through operator construction."""
    sc = df.sparkSession.sparkContext
    before = _persistent_rdd_ids(sc)
    out = df.localCheckpoint()
    # the trailing `out` pins the object so its id() cannot be reused by a
    # later checkpoint while this entry is live (see _CHECKPOINT_IDS note)
    _CHECKPOINT_IDS[id(out)] = (
        sc, frozenset(_persistent_rdd_ids(sc) - before), out
    )
    return out


def free_checkpoint(df: DataFrame) -> None:
    """Free one registered checkpoint's blocks NOW — for iterative
    operators whose round N+1 checkpoint supersedes round N (the superseded
    blocks are dead the moment the next round materializes).  A freed
    checkpoint cannot recompute (lineage is truncated); only call on
    DataFrames nothing references anymore."""
    ent = _CHECKPOINT_IDS.pop(id(df), None)
    if ent is not None:
        _free_rdd_ids(ent[0], ent[1])


def memo(store: dict, key, sc, build: Callable[[], T]) -> T:
    """``build()``, run once per ``key`` for the SparkContext ``sc``.

    A hit is reused only while every checkpoint the build registered still
    holds its blocks: after ``release_all(checkpoints=True)``, or the exit
    of the ``scope()`` it was built in, the value would raise on its next
    action, so it is built again.  The entry pins those checkpoint
    DataFrames, so their ``id()`` cannot be reused while it lives."""
    hit = store.get(key)
    if hit is not None:
        hit_sc, ckpts, value = hit
        if hit_sc is sc and all(
            _CHECKPOINT_IDS.get(k, (None, None, None))[2] is df
            for k, df in ckpts.items()
        ):
            return value
    before = set(_CHECKPOINT_IDS)
    value = build()
    ckpts = {k: _CHECKPOINT_IDS[k][2] for k in _CHECKPOINT_IDS.keys() - before}
    store[key] = (sc, ckpts, value)
    return value


from contextlib import contextmanager


@contextmanager
def scope():
    """Release ONLY the persists/checkpoints created inside the block.

    The operator-local alternative to ``release_all()`` for callers
    embedded in a larger session — a streaming micro-batch loop that
    called ``release_all(checkpoints=True)`` per batch freed EVERY
    registered checkpoint in the session, including other operators'
    live ones (lineage-truncated, so their next action raises instead of
    recomputing).  Entries registered before the block are untouched."""
    n_tracked = len(_TRACKED)
    ckpt_before = set(_CHECKPOINT_IDS.keys())
    try:
        yield
    finally:
        new_tracked = (
            _TRACKED[n_tracked:] if len(_TRACKED) > n_tracked else []
        )
        for df in new_tracked:
            try:
                df.unpersist(False)
            except Exception:  # session already stopped — nothing to free
                pass
        del _TRACKED[n_tracked:]
        for k in list(_CHECKPOINT_IDS.keys()):
            if k not in ckpt_before:
                sc, ids, _df = _CHECKPOINT_IDS.pop(k)
                _free_rdd_ids(sc, ids)


def release_all(checkpoints: bool = False) -> int:
    """Unpersist every tracked DataFrame (non-blocking); returns how many.

    Plain persists are always safe to release: already-materialized results
    stay valid (they recompute from lineage if re-used), only the cached
    blocks are freed.  ``checkpoints=True`` also frees registered
    localCheckpoint blocks — call it only once dependent results are
    materialized and won't re-execute (recompute through a freed checkpoint
    raises, it does not fall back to lineage)."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            df.unpersist(False)
        except Exception:  # session already stopped — nothing to free
            pass
    _TRACKED.clear()
    if checkpoints:
        n += len(_CHECKPOINT_IDS)
        for sc, ids, _df in _CHECKPOINT_IDS.values():
            _free_rdd_ids(sc, ids)
        _CHECKPOINT_IDS.clear()
    return n
