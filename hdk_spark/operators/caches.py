"""Operator-internal caches: one lifecycle for every relation an
operator persists and its returned (lazy) plan reads.

An operator that caches such a relation calls
:func:`_persist_internal` on it, builds its plan over the frame that
comes back, and returns ``_attach_caches(result, caches)``. The
caller materializes the result and then calls
``release_caches(result)``, which frees the caches no other live
result still reads. An operator built on another operator's result
forwards that result's list with :func:`_caches_of`, so one release
of the outer result frees both.

A cache is added only where removing it adds an exchange, a rescan
or a second evaluation of a Python stage to a contract row's audited
plan (``plans/audit.tsv``); a cache whose removal leaves that line
unchanged buys nothing and is not added. Two kinds of persist do not
go through here: a call-scoped cache, which an operator persists,
reads with its own eager jobs and unpersists before it returns (the
graph iterations, ``temporal.multi_grain_rollup``, the MG build's
count relations), and a summary an eager build returns persisted
for the caller to ``unpersist()`` (the MG summaries).
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame

__all__ = ["release_caches"]


def release_caches(df: DataFrame) -> int:
    """Unpersist the bounded INTERNAL relations an operator persisted
    while building ``df``'s plan, returning how many were actually
    unpersisted. Every lazily returning operator that caches a
    relation its returned plan reads registers it here (the sketch
    queries, ``ann_lsh_topk``, the text LMs, the bucketed similarity
    and dedup operators, ``crawl_curate`` — see the module docstring);
    ``input.unpersist()`` cannot release those —
    Dataset.unpersist is non-cascading and matches only the exact
    cached plan, so the documented discipline needs THIS entry point:
    materialize the result, then ``release_caches(result)``. Must be
    called on the frame the operator returned, or on a frame that
    carries its list forward (``_attach_caches(derived,
    _caches_of(result))``); a plain ``.orderBy(...)`` of the result
    does not. Safe to call twice; returns 0 for frames without
    attached caches.

    Internal caches are REFERENCE-COUNTED: Spark's cache manager is
    plan-keyed, so two calls of the same operator on the same input
    share one physical cache entry. Each result frame holds one
    reference; releasing one result decrements, and the entry is
    unpersisted only when its last referencing result is released —
    releasing result A never drops a cache an unmaterialized result B
    still reads (r14 review). The read-and-clear of the attached list
    is atomic under the registry lock, so two concurrent releases of
    the SAME result frame decrement once, not twice."""
    with _CACHE_REG_LOCK:
        caches = tuple(getattr(df, "_hdk_caches", ()))
        try:
            df._hdk_caches = ()
        except AttributeError:  # pragma: no cover - defensive
            pass
    released = 0
    for c in caches:
        try:
            key = c.semanticHash()
        except Exception:  # pragma: no cover - session died under the
            continue  # result; its JVM cache died with it — nothing to free
        free = True
        with _CACHE_REG_LOCK:
            ents = _CACHE_REGISTRY.get(key, [])
            for ent in ents:
                if ent[0]() is c:
                    ent[1] -= 1
                    free = ent[1] <= 0
                    if free:
                        ents.remove(ent)
                        if not ents:
                            del _CACHE_REGISTRY[key]
                    break
        if free:  # last reference (or a pre-registry frame, defensively)
            try:
                c.unpersist()
                released += 1
            except Exception:  # pragma: no cover - defensive
                pass
    return released


def _attach_caches(df: DataFrame, caches) -> DataFrame:
    """Record the internal persisted relations on the returned frame
    so :func:`release_caches` can free them after materialization."""
    df._hdk_caches = tuple(caches)
    return df


# semanticHash -> [[weakref(frame), refcount], ...] for operator-owned
# internal caches (a short list per key tolerates hash collisions;
# sameSemantics disambiguates). WEAK references: the strong refs live
# in the results' _hdk_caches, so when every result of an entry is
# garbage-collected without release_caches, the entry dies with them
# and is pruned on the next same-key pass — the registry never pins
# frames (or their sessions) for the process lifetime. The lock guards
# dict/refcount mutation only; JVM roundtrips happen outside it.
_CACHE_REGISTRY: dict[int, list] = {}
_CACHE_REG_LOCK = threading.Lock()


def _persist_internal(df: DataFrame) -> "tuple[DataFrame, tuple]":
    """Persist an operator-internal multi-consumer relation and return
    (frame, caches-to-attach), deciding OWNERSHIP — who may unpersist
    it (r14 review):

    - Plan already in the operator-owned registry: an earlier operator
      call created it (Spark's cache manager is plan-keyed, so a
      repeat call would otherwise see its own cache as 'already
      cached' and attach nothing, leaving the first call's entry
      unreleasable once the caller keeps only the newest result).
      The refcount is bumped and the SAME frame re-attached, so every
      result holds a releasable reference and the entry survives until
      the last one is released.
    - Plan cached but NOT in the registry: the CALLER cached it (even
      a derived no-op projection canonicalizes to the cached input
      plan), or an earlier result was dropped without release and its
      weak registration died with it. Either way: reuse it and attach
      NOTHING — release_caches(result) must never clobber a
      possibly-caller-owned cache. An orphaned cache therefore stays
      for the session and is simply REUSED by later identical calls
      (never duplicated — the cache manager is plan-keyed), which is
      the bounded steady state for callers that skip the release
      discipline.
    - Otherwise: persist, register with refcount 1, attach.

    Sharing is scoped to ONE SparkSession (identity-compared): plans
    from different sessions can canonicalize equal, but handing back a
    frame bound to another session would be wrong. The identity check
    is what excludes a stale frame after a session restart — measured
    on Spark 4.1.2 classic, a STOPPED session's frame still ANSWERS
    metadata calls (storageLevel/semanticHash read JVM-side state;
    only deriving or executing raises), so exception-based eviction
    would never fire; the try/except is defensive only. Stale entries
    leave the registry when their last referencing result is
    garbage-collected (weak references) or released.

    Concurrency: candidate probing (sameSemantics — a JVM roundtrip)
    runs OUTSIDE the lock against a snapshot; the increment re-checks
    the entry is still registered with a live count. Two threads that
    race to persist the same new plan converge on one entry: the
    loser's persist() is a plan-keyed no-op on the winner's cache, and
    the post-persist re-scan under the lock folds the loser into the
    winner's entry instead of double-registering."""
    key = df.semanticHash()
    with _CACHE_REG_LOCK:
        snapshot = list(_CACHE_REGISTRY.get(key, ()))
    match = None
    for ent in snapshot:
        cand = ent[0]()
        if cand is None:
            continue  # GC'd — pruned under the lock below
        try:
            if (cand.sparkSession is df.sparkSession
                    and cand.sameSemantics(df)):
                match = (ent, cand)
                break
        except Exception:  # dead session: unusable, skip
            continue
    with _CACHE_REG_LOCK:
        ents = _CACHE_REGISTRY.get(key, [])
        ents[:] = [e for e in ents if e[0]() is not None]  # prune GC'd
        if (match is not None
                and any(e is match[0] for e in ents)
                and match[0][1] > 0):
            match[0][1] += 1
            return match[1], (match[1],)
        if not ents:
            _CACHE_REGISTRY.pop(key, None)
    # isValid: uses memory or disk. Two py4j round trips, where each
    # DataFrame.storageLevel read costs six.
    if df._jdf.storageLevel().isValid():
        return df, ()  # caller-owned cache: reuse, never attach
    df = df.persist()
    with _CACHE_REG_LOCK:
        ents = _CACHE_REGISTRY.setdefault(key, [])
        for ent in ents:  # lost a persist race? fold into the winner
            cand = ent[0]()
            try:
                if (cand is not None and ent[1] > 0
                        and cand.sparkSession is df.sparkSession
                        and cand.sameSemantics(df)):
                    ent[1] += 1
                    return cand, (cand,)
            except Exception:  # pragma: no cover - defensive
                continue
        ents.append([weakref.ref(df), 1])
    return df, (df,)


def _caches_of(*frames: DataFrame) -> tuple:
    """The internal caches attached to operator results, concatenated:
    what an operator (or a contract row) built on those results
    forwards onto its own returned frame with :func:`_attach_caches`.
    Forwarding hands the references over: release the outer frame,
    not the inner results as well."""
    return tuple(c for f in frames for c in getattr(f, "_hdk_caches", ()))
