"""Session-shared surfaces: expensive intermediates built once per
keying frame and reused by every consumer in the session.

The analytics surface reads a few intermediates from several screens:
the ring pair stream and its connected components (the ring
dashboards), the PageRank and risk-propagation score surfaces (the
PR/RP screens and the mule-hub build), the mule-hub conjunction
(three hub screens) and the global containment pair stream (three
LLM-data entries). Each is expensive to recompute (self-joins,
unrolled graph recurrences, probe joins) while its RESULT is small,
so it is built once and persisted. The opposite profile — persisting
cheap-to-recompute INPUTS such as the PR/RP edge projection — lost
(COVERAGE.md: 21.1 s → 35.3 s, the persist barrier costs more than
the re-collapse), so only outputs are shared.

Keying: an entry is keyed WEAKLY on a frame every consumer sees as
the same object — ``gold_frames`` memoizes the medallion per
(session, sf_dir) and ``core.catalog.table`` memoizes reads per
(session, path) — so consumers over one input share automatically,
and a caller that builds its own frames gets its own entries. Several
surfaces live under one key, each under its own ``name``; a surface
that only some consumers need (ring components, the card-side rank)
is built on its first demand.

Release: ``persist()`` registers the plan with the session
CacheManager, which holds the blocks until an EXPLICIT unpersist (GC
of the Python DataFrame frees nothing). One ``weakref.finalize`` per
key therefore unpersists every surface stored under it when the key
frame is collected, so long-lived sessions that touch many inputs
(test suites, multi-SF benches) do not accrete cached blocks.

Fallback: a key that cannot be weak-referenced gets ``build()``
unshared, and unpersisted, since nothing would ever release it.

Callers decide what to persist (``persist()`` stays in ``build``), so
a lazy frame derived from a persisted one — the strong-support ring
filter — is shared without a cache of its own. A miss runs the same
builder a fresh call would, so shared and fresh rows are identical by
construction (pinned in tests/test_views.py and tests/test_llm_ops.py).
This is not cross-run caching: entries live and die with the session,
and every build computes from the inputs.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame

_SHARED: "weakref.WeakKeyDictionary[object, dict[str, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def shared(key: object, name: str, build: Callable[[], DataFrame]) -> DataFrame:
    """The surface ``name`` for ``key``: ``build()`` on first demand,
    the same frame on every later call while ``key`` lives."""
    try:
        surfaces = _SHARED.get(key)
    except TypeError:  # not weak-referenceable → no share
        return build().unpersist()
    if surfaces is None:
        surfaces = _SHARED[key] = {}
        # the callback holds the surfaces, never the key
        weakref.finalize(key, _release, surfaces)
    if name not in surfaces:
        surfaces[name] = build()
    return surfaces[name]


def _release(surfaces: dict[str, DataFrame]) -> None:
    try:
        for frame in surfaces.values():
            frame.unpersist()
    except Exception:
        pass  # session already stopped — nothing left to free
