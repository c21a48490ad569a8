"""``ocr_system_spark.persist``: the one way the library caches a
DataFrame, and the scope that releases what it pinned."""

from __future__ import annotations

from pyspark import StorageLevel

from ocr_system_spark.persist import persist, scoped_persist


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_scope_releases_its_pins_and_only_them(spark):
    mine = spark.range(50).selectExpr("id * 3 AS x")
    theirs = spark.range(70).selectExpr("id * 5 AS y").cache()
    theirs.count()
    before = _persistent_rdds(spark)
    with scoped_persist():
        with scoped_persist():
            inner = persist(mine.filter("x > 10"))
            assert inner.count() == 46
        assert inner.storageLevel == StorageLevel.NONE
        outer = persist(mine)
        assert persist(theirs) is theirs     # already cached: not owned
        assert outer.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
        assert outer.count() == 50 and theirs.count() == 70
    assert outer.storageLevel == StorageLevel.NONE
    assert theirs.storageLevel != StorageLevel.NONE
    assert _persistent_rdds(spark) == before
    theirs.unpersist()


def test_pin_outside_a_scope_stays_with_the_session(spark):
    df = persist(spark.range(30).selectExpr("id * 7 AS z"))
    assert df.count() == 30
    assert df.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
    df.unpersist()
