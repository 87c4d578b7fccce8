"""BloomFilter's one add path: order- and batching-independent, no
false negatives (bit 63 included), and fpp <= 1% at design capacity.

The crawler folds the seen set into the bitmap one record batch at a
time and a resume rebuilds it in one pass; seen-set correctness rides
on both producing the same words.  No Spark needed — pure numpy.
"""

import numpy as np
import pytest

from llm_scraper_spark.functions.bloom import BloomFilter


def test_many_small_adds_equal_one_large_add():
    rng = np.random.default_rng(11)
    bf, ref = BloomFilter.empty(100_000), BloomFilter.empty(100_000)
    chunks = [rng.integers(0, 1 << 63, size=300, dtype=np.uint64) for _ in range(20)]
    for c in chunks:
        bf.add(c)
    ref.add(np.concatenate(chunks))
    assert np.array_equal(bf.words, ref.words)


def test_top_bit_hashes_have_no_false_negatives():
    # Hashes with bit 63 set, as int64 (negative) and as uint64: the
    # filter masks bit 63 first, so both views land on the same words.
    hashes = (np.arange(8192, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1 << 63)
    bf = BloomFilter.empty(50_000)
    bf.add(hashes.view(np.int64))
    assert bf.maybe_contains(hashes).all()
    assert bf.maybe_contains(hashes.view(np.int64)).all()
    low = BloomFilter.empty(50_000)
    low.add(hashes & np.uint64((1 << 63) - 1))
    assert np.array_equal(bf.words, low.words)


@pytest.mark.parametrize("capacity", [4096, 30_000, 1_000_000])
def test_fpp_at_design_capacity_is_at_most_one_percent(capacity):
    rng = np.random.default_rng(capacity)
    bf = BloomFilter.empty(capacity)
    added = rng.integers(0, 1 << 63, size=capacity, dtype=np.uint64)
    bf.add(added)
    assert bf.maybe_contains(added).all()
    fresh = rng.integers(0, 1 << 63, size=200_000, dtype=np.uint64)
    assert bf.maybe_contains(fresh).mean() <= 0.01
