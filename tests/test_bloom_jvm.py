"""JVM broadcast-bitmap Bloom probe ≡ the numpy probe, and Bloom
correctness invariants (no false negatives)."""

from __future__ import annotations

import numpy as np

from llm_scraper_spark.functions.bloom import BloomFilter, with_bloom_flag


def test_jvm_probe_matches_numpy(spark):
    rng = np.random.default_rng(7)
    added = rng.integers(0, 1 << 62, size=5000, dtype=np.int64)
    probes = np.concatenate(
        [added[:2500], rng.integers(0, 1 << 62, size=5000, dtype=np.int64)]
    )
    bf = BloomFilter.empty(capacity=5000, fpp=0.01)
    bf.add(added.astype(np.uint64))
    want = bf.maybe_contains(probes.astype(np.uint64)).tolist()
    df = spark.createDataFrame([(int(h),) for h in probes], "url_hash long")
    got = [
        r["_maybe_seen"]
        for r in with_bloom_flag(spark, df, bf).collect()
    ]
    assert got == want
    # no false negatives: everything added must be flagged
    assert all(want[:2500])
    # ~1% fpp on the fresh half, with slack
    assert sum(want[2500:]) < 5000 * 0.05


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
