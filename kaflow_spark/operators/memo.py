"""One memo for the persisted frames that queries share.

The curation operators persist a few frames that many queries read:
shingle sets and the MinHash/SimHash signatures built from them, the
verified lexical and semantic near-duplicate pair sets, and the keyed
frames of the auto-salt probe (plus the probe's salt decision). All
of them live in one registry, keyed and released the same way:

- **Key.** :func:`plan_key` is ``(applicationId, analyzed-plan
  semanticHash, *params)``. Registry queries rebuild an identical plan
  on every invocation, and for file-backed corpora the analyzed plan
  pins the data (``catalog.load`` tables are immutable; local-relation
  frames embed their rows, so distinct data never aliases). The
  applicationId is stable for the life of the JVM context and never
  reused after a stop/start. ``id(sparkSession)`` is not: once the old
  object is GC'd its CPython address can alias a NEW session to a
  stale persisted frame (ADVICE r12). Sessions of one context share
  the CacheManager, so aliasing across ``newSession()`` is safe.
  ``None`` means the JVM is unreachable (connect mode).
- **One persist per plan.** A hit returns the SAME object with zero
  jobs and zero new ``persist()`` registrations. Re-persisting a
  semantically-equal rebuilt plan on a fresh DataFrame makes
  CacheManager log "Asked to cache already cached data" on every
  repeat and silently rides plan-matching instead of an explicit
  shared frame (round-12 verdict item 2).
- **Materialized before return.** :func:`persisted` counts the frame
  once: its consumers fan out into stages that run concurrently, and
  concurrent stages race on not-yet-cached partitions, each
  recomputing them (on clusters too, not only in local mode).
- **Released by owner.** :func:`release` unpersists every frame one
  owner registered and returns how many were still cached. Call it
  after rewriting data a frame was built over (the
  ``catalog.clear_load_cache`` discipline). Unkeyed values are
  registered too, so a frame built without a key never outlives its
  owner's release.
- **Survives ``clearCache``.** A registered frame that is no longer
  cached counts as a miss: the next caller rebuilds, persists and
  re-registers it instead of getting an unpersisted frame back.

``catalog._LOAD_CACHE`` is not here: it holds unpersisted plans, and
it is keyed by the session object because ``catalog.load`` sets
per-session confs.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame

# owner -> key -> value (a persisted DataFrame, or a memoized decision)
_MEMO: dict[str, dict[tuple, Any]] = {}


def plan_key(df: DataFrame, *params) -> tuple | None:
    """``(applicationId, analyzed-plan semanticHash, *params)``, or
    None when the JVM is unreachable."""
    try:
        return (
            df.sparkSession.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
            *params,
        )
    except Exception:
        return None


def _cached(value: DataFrame) -> bool:
    """False for a frame that is no longer cached (a
    ``catalog.clearCache()`` or a direct ``unpersist()`` dropped it)."""
    level = value.storageLevel
    return level.useMemory or level.useDisk


def memoized(owner: str, key: tuple | None, make: Callable[[], Any]) -> Any:
    """The value registered under ``(owner, key)``; ``make()`` builds
    and registers it on a miss. A None key never hits, and neither
    does a registered frame that is no longer cached: handing it back
    would make every consumer silently recompute its lineage."""
    values = _MEMO.setdefault(owner, {})
    if key is None:
        key = (object(),)
    elif key in values:
        value = values[key]
        if not isinstance(value, DataFrame) or _cached(value):
            return value
    value = values[key] = make()
    return value


def persisted(owner: str, key: tuple | None, build: Callable[[], DataFrame]) -> DataFrame:
    """The persisted, materialized frame registered under
    ``(owner, key)``; ``build()`` makes the unpersisted plan on a miss."""

    def make() -> DataFrame:
        df = build().persist()
        df.count()
        return df

    return memoized(owner, key, make)


def release(owner: str) -> int:
    """Drop everything ``owner`` registered; returns how many frames
    were still cached and got unpersisted."""
    n = 0
    for value in _MEMO.pop(owner, {}).values():
        if isinstance(value, DataFrame):
            try:
                if _cached(value):
                    value.unpersist()
                    n += 1
            except Exception:
                pass
    return n
