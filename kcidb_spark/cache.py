"""Scoped persist tracking for registry queries.

Several dedup queries ``persist()`` an intermediate frame (MinHash
signatures, candidate pairs) because a projection-only subtree has no
exchange for Spark to reuse across a self-join.  The persist must
outlive the *plan* (the caller runs the terminal action), so the query
function cannot unpersist inline — instead it registers the frame here
and harnesses (bench.py, the oracle mirror, any composed pipeline)
call :func:`release_persisted` after each terminal action.  Without
this, a long-lived session accumulates cached RDDs query after query
(VERDICT.md r1 "What's wrong" §6).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame

_PERSISTED: List[DataFrame] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() a frame and register it for later release."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every frame registered since the last release.

    Safe to call at any time (idempotent, exceptions swallowed — a
    stopped session just means there is nothing left to free).
    Returns the number of frames released.
    """
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:  # noqa: BLE001 — session may be gone
            pass
    return n


#: Same-application entries a persisted-frame cache keeps.
_SESSION_FRAMES_MAX = 2


def evict_session_frames(cache: dict, app: str) -> None:
    """Make room in a session-keyed cache of PERSISTED frames (keys
    start with the applicationId) before an insert: drop every entry
    of another application, then the oldest-inserted entries of
    ``app`` until fewer than _SESSION_FRAMES_MAX remain.  Every
    dropped frame is unpersisted — each pins executor storage, so a
    long-lived driver would otherwise keep one frame per key it ever
    served."""
    def drop(key) -> None:
        try:
            cache.pop(key).unpersist()
        except Exception:  # noqa: BLE001 — its session may be gone
            pass

    for key in [k for k in cache if k[0] != app]:
        drop(key)
    while len(cache) >= _SESSION_FRAMES_MAX:
        drop(next(iter(cache)))
