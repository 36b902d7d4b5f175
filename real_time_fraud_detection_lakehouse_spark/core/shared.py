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
key therefore releases every surface stored under it when the key
frame is collected, so long-lived sessions that touch many inputs
(test suites, multi-SF benches) do not accrete cached blocks. The
CacheManager keeps ONE entry per equal plan and ``unpersist`` drops
it for every frame with that plan, so persisted surfaces are
reference-counted by plan (``sameSemantics``): two live keys whose
surfaces have the same plan share one cache entry, and it is
unpersisted only when the last of them is released.

Fallback: a key that cannot be weak-referenced gets ``build()``
unshared, and unpersisted, since nothing would ever release it —
unless a live shared surface holds the same plan, whose cache entry
the unpersist would drop.

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

_SHARED: "weakref.WeakKeyDictionary[object, tuple[dict[str, DataFrame], list]]" = (
    weakref.WeakKeyDictionary()
)
#: one ``[frame, holders]`` entry per distinct persisted plan that a
#: live key holds; ``holders`` counts the surfaces holding that plan
_PLANS: list[list] = []


def shared(key: object, name: str, build: Callable[[], DataFrame]) -> DataFrame:
    """The surface ``name`` for ``key``: ``build()`` on first demand,
    the same frame on every later call while ``key`` lives."""
    try:
        entry = _SHARED.get(key)
    except TypeError:  # not weak-referenceable → no share
        frame = build()
        if frame.is_cached and _plan_entry(frame) is None:
            frame.unpersist()
        return frame
    if entry is None:
        entry = _SHARED[key] = ({}, [])
        # the callback holds the held plan entries, never the key
        weakref.finalize(key, _release, entry[1])
    surfaces, held = entry
    if name not in surfaces:
        frame = surfaces[name] = build()
        if frame.is_cached:
            held.append(_hold(frame))
    return surfaces[name]


def _plan_entry(frame: DataFrame) -> list | None:
    return next((e for e in _PLANS if e[0].sameSemantics(frame)), None)


def _hold(frame: DataFrame) -> list:
    entry = _plan_entry(frame)
    if entry is None:
        entry = [frame, 0]
        _PLANS.append(entry)
    entry[1] += 1
    return entry


def _release(held: list[list]) -> None:
    for entry in held:
        entry[1] -= 1
        if entry[1]:
            continue
        _PLANS[:] = [e for e in _PLANS if e is not entry]
        try:
            entry[0].unpersist()
        except Exception:
            pass  # session already stopped — nothing left to free
