"""``TableStore.read`` serves small committed snapshots from Spark's cache.

A cached frame must never outlive its commit: Spark matches cached plans
by path, so a stale entry would answer reads of a newer snapshot (or of
a store rebuilt at the same root) with the old rows.
"""

import shutil

import pytest
from pyspark import StorageLevel

from softcite_kb_spark import storage
from softcite_kb_spark.storage import TableStore


def _frame(spark, keys, v="a"):
    return spark.createDataFrame([(k, v) for k in keys], "k int, v string")


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def _cached(df) -> bool:
    """Spark's own view: the frame's plan has a cache entry."""
    return df.storageLevel != StorageLevel(False, False, False, False)


def test_small_snapshot_read_is_cached_once(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.write(_frame(spark, range(10)), "t")
    a = store.read(spark, "t")
    assert a.is_cached and _cached(a)
    assert _rows(a) == [(k, "a") for k in range(10)]
    # another store over the same root shares the registered frame
    assert TableStore(str(tmp_path)).read(spark, "t") is a


@pytest.mark.parametrize("verb", ["write", "append", "merge"])
def test_commit_unpersists_superseded_snapshot(spark, tmp_path, verb):
    store = TableStore(str(tmp_path))
    store.write(_frame(spark, range(6)), "t")
    old = store.read(spark, "t")
    old.count()
    if verb == "write":
        store.write(_frame(spark, range(10, 13)), "t")
        want = [(k, "a") for k in range(10, 13)]
    elif verb == "append":
        store.append(_frame(spark, range(10, 13)), "t")
        want = [(k, "a") for k in [*range(6), *range(10, 13)]]
    else:
        store.merge(_frame(spark, range(4, 8), "b"), "t", ["k"])
        want = [(k, "a") for k in range(4)] + [(k, "b") for k in range(4, 8)]
    assert not old.is_cached and not _cached(old)
    new = store.read(spark, "t")
    assert new is not old and new.is_cached
    assert _rows(new) == want


def test_partitioned_snapshot_is_not_cached(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.write(_frame(spark, range(6)), "p", partition_by=["v"])
    df = store.read(spark, "p")
    assert not df.is_cached and not _cached(df)


def test_oversized_snapshot_is_not_cached(spark, tmp_path, monkeypatch):
    store = TableStore(str(tmp_path))
    snap = store.write(_frame(spark, range(6)), "t")
    monkeypatch.setattr(storage, "READ_CACHE_MAX_BYTES",
                        snap.properties["total-files-size"] - 1)
    df = store.read(spark, "t")
    assert not df.is_cached and not _cached(df)


def test_unrecorded_size_is_not_cached(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.write(_frame(spark, range(6)), "t")
    meta = store._load_meta("t")
    meta["snapshots"][-1]["properties"]["total-files-size"] = -1
    store._save_meta("t", meta)
    df = store.read(spark, "t")
    assert not df.is_cached and not _cached(df)


def test_drop_then_rewrite_reads_new_rows(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.write(_frame(spark, range(6)), "t")
    old = store.read(spark, "t")
    old.count()
    store.drop("t")
    assert not old.is_cached
    snap = store.write(_frame(spark, range(100, 103), "z"), "t")
    want = [(k, "z") for k in range(100, 103)]
    assert _rows(store.read(spark, "t")) == want
    assert _rows(spark.read.parquet(snap.path)) == want


def test_store_rebuilt_at_same_root_reads_new_rows(spark, tmp_path):
    root = str(tmp_path / "kb")
    first = TableStore(root)
    first.write(_frame(spark, range(6)), "t")
    old = first.read(spark, "t")
    old.count()
    shutil.rmtree(root)
    second = TableStore(root)
    snap = second.write(_frame(spark, range(100, 103), "z"), "t")
    assert snap.path == first.current_snapshot("t").path
    want = [(k, "z") for k in range(100, 103)]
    new = second.read(spark, "t")
    assert new is not old and new.is_cached
    assert _rows(new) == want
    assert _rows(spark.read.parquet(snap.path)) == want


def test_commit_drops_frame_cached_outside_the_registry(spark, tmp_path):
    # an append assembles its snapshot by file moves, which Spark's own
    # write-time cache refresh never sees
    root = str(tmp_path / "kb")
    first = TableStore(root)
    first.write(_frame(spark, range(6)), "t")
    snap = first.append(_frame(spark, range(6, 8)), "t")
    own = spark.read.parquet(snap.path).cache()
    own.count()
    shutil.rmtree(root)
    second = TableStore(root)
    second.write(_frame(spark, range(100, 103), "z"), "t")
    new = second.append(_frame(spark, range(103, 105), "z"), "t")
    assert new.path == snap.path
    assert _rows(spark.read.parquet(snap.path)) == [
        (k, "z") for k in range(100, 105)]


def test_registry_stays_within_byte_budget(spark, tmp_path, monkeypatch):
    sizes = []
    frames = []
    for i in range(8):
        store = TableStore(str(tmp_path / f"s{i}"))
        sizes.append(store.write(_frame(spark, range(i, i + 4)), "t")
                     .properties["total-files-size"])
        if i == 0:  # room for about three of these snapshots
            monkeypatch.setattr(storage, "READ_CACHE_BUDGET_BYTES",
                                3 * sizes[0] + sizes[0] // 2)
        frames.append(store.read(spark, "t"))
        registered = sum(e[1] for e in storage._read_cache.values())
        assert registered <= storage.READ_CACHE_BUDGET_BYTES
    assert frames[-1].is_cached
    assert not frames[0].is_cached and not _cached(frames[0])
    assert _rows(frames[0]) == [(k, "a") for k in range(4)]
