"""Measured plan decisions: one memo, one per-query record, one
in-process override.

A decision site measures its input and picks a physical path. Every
path a site can pick returns the same rows (pytest-asserted per site),
so a decision only ever changes the plan, never the answer.

* :func:`decide` — a memoized decision: ``measure()`` runs once per
  ``(site, key)``. Every key starts with
  :func:`..sources.tables.table_stamp` (realpath + dataset mtime), so a
  table rewritten in place is measured again.
* :func:`note` — a per-build decision that is not memoized.
* :func:`forced` — replaces a site's measurement for tests and
  bench.py; the forced dict is recorded with ``"forced": True`` and is
  never stored in the memo.
* :func:`record` — site -> decision for the current top-level build.
  ``plans.registry`` starts a new record at each top-level build, so a
  record captured after one build never changes when later builds run.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable, Iterator
from contextlib import contextmanager

_MEMO: dict[tuple[str, Hashable], dict] = {}
_FORCED: dict[str, dict] = {}
_RECORD: dict[str, dict] = {}


def _forced(site: str) -> dict | None:
    f = _FORCED.get(site)
    return None if f is None else {**f, "forced": True}


def decide(site: str, key: Hashable, measure: Callable[[], dict]) -> dict:
    """The memoized decision of ``site`` for ``key``, measured on the
    first request (or the forced dict), written into the record."""
    d = _forced(site)
    if d is None:
        d = _MEMO.get((site, key))
        if d is None:
            d = _MEMO[(site, key)] = measure()
    _RECORD[site] = d
    return d


def note(site: str, decision: dict) -> dict:
    """A per-build decision of ``site`` (or the forced dict), written
    into the record."""
    d = _forced(site) or decision
    _RECORD[site] = d
    return d


@contextmanager
def forced(**decisions: dict) -> Iterator[None]:
    """Within the block, each named site takes the given dict instead
    of measuring."""
    saved = dict(_FORCED)
    _FORCED.update(decisions)
    try:
        yield
    finally:
        _FORCED.clear()
        _FORCED.update(saved)


def record() -> dict[str, dict]:
    """Site -> decision for the current top-level build."""
    return _RECORD


def new_record() -> None:
    global _RECORD
    _RECORD = {}


def clear() -> None:
    """Drop every memoized decision."""
    _MEMO.clear()
