"""JVM broadcast-bitmap Bloom probe ≡ the numpy probe, and Bloom
correctness invariants (no false negatives)."""

from __future__ import annotations

import gc

import numpy as np

from llm_scraper_spark.functions.bloom import BloomFilter, bitmap_df, with_bloom_flag


def _assert_jvm_probe_matches_numpy(spark, added, seen, fresh):
    """Probe ``seen`` (a prefix of ``added``) then ``fresh``: the JVM
    probe flags exactly what ``maybe_contains`` flags, with no false
    negatives on ``seen`` and ~1% fpp on ``fresh``."""
    probes = np.concatenate([seen, fresh])
    bf = BloomFilter.empty(capacity=len(added), fpp=0.01)
    bf.add(added.astype(np.uint64))
    want = bf.maybe_contains(probes.astype(np.uint64)).tolist()
    df = spark.createDataFrame([(int(h),) for h in probes], "url_hash long")
    got = [
        r["_maybe_seen"]
        for r in with_bloom_flag(spark, df, bf).collect()
    ]
    assert got == want
    # no false negatives: everything added must be flagged
    assert all(want[: len(seen)])
    # ~1% fpp on the fresh part, with slack
    assert sum(want[len(seen):]) < len(fresh) * 0.05


def test_jvm_probe_matches_numpy(spark):
    rng = np.random.default_rng(7)
    added = rng.integers(0, 1 << 62, size=5000, dtype=np.int64)
    fresh = rng.integers(0, 1 << 62, size=5000, dtype=np.int64)
    _assert_jvm_probe_matches_numpy(spark, added, added[:2500], fresh)


def test_jvm_probe_matches_numpy_top_bit(spark):
    """Hashes with bit 63 set (negative as int64): outside the 63-bit
    url_hash contract, but the filter accepts arbitrary hashes.  Both
    probes mask bit 63 before mixing; an unmasked sign bit would leak
    into the JVM's arithmetic ``shiftright`` and move its positions."""
    rng = np.random.default_rng(23)
    top = np.int64(-(1 << 63))
    added = rng.integers(0, 1 << 62, size=3000, dtype=np.int64) | top
    fresh = rng.integers(0, 1 << 62, size=3000, dtype=np.int64) | top
    _assert_jvm_probe_matches_numpy(spark, added, added, fresh)


def test_bitmap_frame_is_a_snapshot(spark):
    """A shipped bitmap frame keeps the words it was built from: later
    ships of the same bloom, mutation of the bloom and its collection
    leave it unchanged."""
    a = BloomFilter.empty(capacity=2048)
    a.add(np.arange(100, dtype=np.uint64))
    want = a.words.view(np.int64).tolist()
    df = bitmap_df(spark, a)
    for _ in range(3):
        bitmap_df(spark, a)
    a.add(np.arange(1000, 5000, dtype=np.uint64))
    assert a.words.view(np.int64).tolist() != want
    del a
    gc.collect()
    (row,) = df.collect()
    assert row["_bloom_arr"] == want


def test_bitmap_frame_reads_no_file(spark):
    """The bitmap travels inside the job itself, so an executor on another
    host needs no shared filesystem to probe it."""
    bf = BloomFilter.empty(capacity=2048)
    bf.add(np.arange(100, dtype=np.uint64))
    assert bitmap_df(spark, bf).inputFiles() == []
