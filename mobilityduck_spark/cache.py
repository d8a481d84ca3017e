"""The one owner of persisted intermediates ("pins") and session memos.

Operators pin a relation that more than one subtree of their plan reads;
shared relations built once per session (BerlinMOD trips, assembled
temporal tables, index fits) are memoized. Both are released here:

- `pin(df, level)` persists `df` and registers it BEFORE anything
  materializes it, so a failed eager count cannot strand the pin;
- `memo(key, build)` is the session memo. A pin made while a memo is
  being built belongs to the session (the memoized value reads it);
  every other pin belongs to the call. Callers never pass a scope;
- `release()` drains the call pins (between queries);
  `release(session=True)` also drains the session pins and memos
  (teardown).

Memo keys carry the session identity (`sources.tables.session_key`), so
a stopped session's pins are never served to a new one.
"""

from __future__ import annotations

import logging

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_CALL_PINS: list[DataFrame] = []
_SESSION_PINS: list[DataFrame] = []
_MEMOS: dict = {}
_building = 0  # depth of memo builds in progress


def pin(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """Persist `df` (at `level`, else the persist() default) and register
    it for release; returns the persisted DataFrame."""
    df = df.persist() if level is None else df.persist(level)
    (_SESSION_PINS if _building else _CALL_PINS).append(df)
    return df


def memo(key, build):
    """`build()` once per `key` until `release(session=True)`;
    key=None builds without memoizing, so its pins keep the caller's
    scope."""
    global _building
    if key is None:
        return build()
    if key not in _MEMOS:
        _building += 1
        try:
            _MEMOS[key] = build()
        finally:
            _building -= 1
    return _MEMOS[key]


def _drain(pins: list[DataFrame]) -> int:
    n = 0
    while pins:
        try:
            pins.pop().unpersist()
            n += 1
        except Exception:  # one bad handle must not strand the rest
            logging.getLogger(__name__).warning(
                "unpersist failed", exc_info=True
            )
    return n


def release(session: bool = False) -> int:
    """Unpersist the call pins, plus the session pins and memos when
    `session`; returns the number of pins released."""
    n = _drain(_CALL_PINS)
    if session:
        n += _drain(_SESSION_PINS)
        _MEMOS.clear()
    return n
