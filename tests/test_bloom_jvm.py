"""JVM broadcast-bitmap Bloom probe ≡ the numpy probe, and Bloom
correctness invariants (no false negatives)."""

from __future__ import annotations

import gc

import numpy as np

from llm_scraper_spark.functions.bloom import (
    K,
    BloomFilter,
    bitmap_df,
    bloom_probe_col,
    with_bloom_flag,
)


def _py_word_mask(h: int, n_words: int) -> tuple[int, int]:
    """The blocked filter's (word, mask) in plain Python ints: mask bit
    63 off, word = (h mod 2^61) mod n_words, and K bits inside that
    word, each a 6-bit slice of the shift/xor mix."""
    h &= (1 << 63) - 1
    mix = (h ^ (h >> 31) ^ (h << 17)) & ((1 << 58) - 1)
    mask = 0
    for i in range(K):
        mask |= 1 << ((mix >> (6 * i)) & 63)
    return (h & ((1 << 61) - 1)) % n_words, mask


def _assert_jvm_probe_matches_numpy(spark, added, seen, fresh):
    """Probe ``seen`` (a prefix of ``added``) then ``fresh``: numpy's
    word and mask follow the blocked math, the JVM probe flags exactly
    what ``maybe_contains`` flags, with no false negatives on ``seen``
    and ~1% fpp on ``fresh``."""
    probes = np.concatenate([seen, fresh])
    bf = BloomFilter.empty(capacity=len(added))
    bf.add(added)
    word, mask = bf._word_mask(probes)
    n_words = bf.words.size
    assert [(int(w), int(m)) for w, m in zip(word, mask)] == [
        _py_word_mask(int(h) & ((1 << 64) - 1), n_words) for h in probes
    ]
    want = bf.maybe_contains(probes).tolist()
    assert want == [
        int(bf.words[w]) & m == m
        for w, m in (_py_word_mask(int(h) & ((1 << 64) - 1), n_words) for h in probes)
    ]
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


def test_probe_reads_one_bitmap_word(spark):
    """The JVM probe reads the bitmap array once per row — one
    ``element_at`` and one mask compare, not one read per bit."""
    col = bloom_probe_col("_bloom_arr", 64 * 1000, K, "url_hash")
    assert str(col).count("element_at(") == 1
