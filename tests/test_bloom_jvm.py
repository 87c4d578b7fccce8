"""JVM broadcast-bitmap Bloom probe ≡ the numpy probe, and Bloom
correctness invariants (no false negatives)."""

from __future__ import annotations

import numpy as np

from llm_scraper_spark.functions.bloom import BloomFilter, with_bloom_flag


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


def test_staged_bitmaps_scoped_per_bloom(spark):
    """Two blooms interleaving ships must not delete each other's
    staged files: each owner retains its own 2 most recent."""
    from llm_scraper_spark.functions.bloom import bitmap_df

    a = BloomFilter.empty(capacity=2048)
    b = BloomFilter.empty(capacity=2048)
    a.add(np.arange(100, dtype=np.uint64))
    b.add(np.arange(200, 300, dtype=np.uint64))
    df_a = bitmap_df(spark, a)
    for _ in range(4):  # 4 later ships from ANOTHER bloom
        bitmap_df(spark, b)
    # df_a's staged file must still be readable (old global keep-2
    # would have deleted it)
    assert df_a.count() == 1
    assert len(a._stage_paths) <= 2 and len(b._stage_paths) <= 2
