"""core.shared: one surface per (key frame, name), released when the
key frame is collected (persisted plans reference-counted across keys);
keys that cannot be weak-referenced get an unshared, uncached build."""

from __future__ import annotations

import gc

from real_time_fraud_detection_lakehouse_spark.core.shared import shared


def test_shared_surface_released_with_key(spark):
    key = spark.range(10)
    calls = []

    def build():
        calls.append(1)
        return key.selectExpr("id * 2 AS v").persist()

    s = shared(key, "doubled", build)
    assert shared(key, "doubled", build) is s and len(calls) == 1
    lazy = shared(key, "lazy", lambda: s.filter("v > 4"))
    assert not lazy.storageLevel.useMemory
    assert s.count() == 10 and s.storageLevel.useMemory

    del key
    gc.collect()
    assert not s.storageLevel.useMemory and not s.storageLevel.useDisk
    assert sorted(r.v for r in lazy.collect()) == [6, 8, 10, 12, 14, 16, 18]


def test_unreferenceable_key_gets_fresh_uncached_build(spark):
    key = ("not", "weak-referenceable")

    def build():
        return spark.range(5).selectExpr("id + 1 AS v").persist()

    a = shared(key, "plus_one", build)
    b = shared(key, "plus_one", build)
    assert a is not b
    for frame in (a, b):
        assert not frame.storageLevel.useMemory and not frame.storageLevel.useDisk
        assert sorted(r.v for r in frame.collect()) == [1, 2, 3, 4, 5]


def test_equal_plan_surface_survives_release_of_other_key(spark):
    """The CacheManager keeps one entry per equal plan, so releasing one
    key must not drop the cache a live key's equal-plan surface reads."""
    k1, k2 = spark.range(100), spark.range(100)

    def build(key):
        return lambda: key.selectExpr("id * 3 AS v").persist()

    s1 = shared(k1, "tripled", build(k1))
    s2 = shared(k2, "tripled", build(k2))
    assert s2.count() == 100 and s2.storageLevel.useMemory

    # the fallback's unpersist of an equal plan must not drop it either
    fresh = shared(("not", "weak"), "tripled", build(k2))
    assert sorted(r.v for r in fresh.collect())[-1] == 297
    assert s2.storageLevel.useMemory

    del k1, s1
    gc.collect()
    assert s2.storageLevel.useMemory

    del k2
    gc.collect()
    assert not s2.storageLevel.useMemory and not s2.storageLevel.useDisk
