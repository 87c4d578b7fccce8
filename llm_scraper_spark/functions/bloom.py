"""Bloom prefilter for the URL-seen set.

North-rule component: "Bloom/cuckoo URL-seen set".  The Bloom filter is
a *prefilter only* — candidates it marks "maybe seen" are confirmed by
an exact anti-join against the seen-set table, so seen-set semantics
stay exact (false positives cost a join probe, never a dropped URL).
Candidates it marks "definitely new" skip the shuffle join entirely;
with a mostly-fresh frontier this removes the dominant shuffle.

One filter type, ``BloomFilter``: one numpy bitmap on the driver,
folded from the seen set's url_hash column (plans/crawler), shipped to
the JVM as a one-row Arrow table (``bitmap_df``) and broadcast into
one codegen'd probe expression (``bloom_probe_col``).  The numpy probe
(``BloomFilter.maybe_contains``) computes the same word and mask and is
the reference the JVM probe is tested against (tests/test_bloom_jvm.py).
A sharded filter for bitmaps too big for one process would replace this
type, not sit beside it.

The filter is register-blocked: a key's hash picks ONE 64-bit word and
all ``K`` of its bits lie inside it, so an add or a probe touches one
word per key — one cache miss, where k independent bit positions cost
k.  Blocking raises the fpp at equal bits per key (word loads vary), so
``BITS_PER_KEY`` is set from measured fpp: at design capacity, 2x10^5
fresh keys read 0.63-0.69% from 4096 to 10^6 keys
(tests/test_bloom_add_paths.py pins <= 1%).

Reference analog: in-memory ``VISITED`` list / ``set()``
(extract_product_urls.py:12,39-41,57) — O(n) driver memory, the exact
thing that cannot scale; this replaces it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: bitmap bits per key of design capacity, and bits set per key (each
#: a 6-bit slice of the 58-bit mix below, so K <= 9)
BITS_PER_KEY = 14
K = 6

# Mixing uses ONLY shift/xor/mask (no 64-bit multiply): the same word
# and mask are computed by the numpy path below and by the JVM column
# expression in ``bloom_probe_col`` — bigint multiply would
# overflow-throw under ANSI SQL, shift/xor/and never do.  Bit 63 is
# masked off first and the word index uses 61 bits, so numpy-uint64 and
# JVM-signed-int64 arithmetic agree bit-for-bit.
_MASK63 = np.uint64((1 << 63) - 1)
_MASK61 = np.uint64((1 << 61) - 1)
_MASK58 = np.uint64((1 << 58) - 1)


class BloomFilter:
    k = K

    def __init__(self, words: np.ndarray) -> None:
        self.words = words  # uint64[m_bits/64]

    @property
    def m_bits(self) -> int:
        return 64 * self.words.size

    def _word_mask(self, hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(word index, K-bit mask) per hash.

        Bit 63 is masked off FIRST, exactly as the JVM probe does
        (``hash & (2^63-1)`` in ``bloom_probe_col``): url_hash is
        contractually 63-bit, but the filter accepts arbitrary hashes,
        and an unmasked top bit would leak into ``h >> 31`` and diverge
        the two engines' masks."""
        h = np.asarray(hashes).astype(np.uint64, copy=False) & _MASK63
        word = (h & _MASK61) % np.uint64(self.words.size)
        mix = (h ^ (h >> np.uint64(31)) ^ (h << np.uint64(17))) & _MASK58
        mask = np.zeros_like(h)
        for i in range(self.k):
            mask |= np.uint64(1) << ((mix >> np.uint64(6 * i)) & np.uint64(63))
        return word, mask

    def add(self, hashes: np.ndarray) -> None:
        word, mask = self._word_mask(hashes)
        np.bitwise_or.at(self.words, word, mask)

    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        word, mask = self._word_mask(hashes)
        return (self.words[word] & mask) == mask

    @classmethod
    def empty(cls, capacity: int) -> "BloomFilter":
        n_words = max(1, -(-capacity * BITS_PER_KEY // 64))
        return cls(np.zeros(n_words, dtype=np.uint64))


def bitmap_df(spark: SparkSession, bloom: BloomFilter) -> DataFrame:
    """The bitmap as a ONE-ROW DataFrame ``(_bloom_arr array<bigint>)``.

    The words ship driver→JVM as one Arrow batch (a ``pyarrow.Table``
    handed to createDataFrame), copied at call time: the frame is a
    self-contained snapshot that later ``add`` calls, later ships or
    the bloom's collection never touch, and it needs no file an
    executor must be able to read.  (Two earlier versions were
    measured pathological: raw bytes unpacked with
    ``transform(...substring(raw, ...))`` re-copies the ENTIRE blob per
    element on UnsafeRows — O(n_words × blob_size) ≈ 50 GB of memcpy at
    a 230 KB bitmap; and createDataFrame's pickle path costs 4-9 s of
    serial driver time per round at a 3 MB bitmap, which at two
    measured cluster sizes shows up directly as lost scaling
    efficiency.)

    The bitmap must reach the probe as a broadcast-joined COLUMN, not
    as a scalar subquery / literal: a folded literal array inlines
    into the generated Java and Janino compile time explodes.
    As a join-side attribute the generated code is a bound reference —
    constant-size — and the array lives once in the broadcast, never
    copied per row."""
    import pyarrow as pa

    words = np.asarray(bloom.words, dtype=np.uint64).view(np.int64)
    arr = pa.array([words], type=pa.list_(pa.int64()))
    return spark.createDataFrame(pa.Table.from_arrays([arr], names=["_bloom_arr"]))


def bloom_probe_col(arr_sql: str, m_bits: int, k: int, hash_sql: str) -> "F.Column":
    """JVM-side Bloom probe over an ``array<bigint>`` bitmap column: one
    ``element_at`` and one mask compare — whole-stage-codegen'd, no
    Python in the filter path.  The arithmetic mirrors
    ``BloomFilter._word_mask`` bit-for-bit (see the mixing note above).

    Takes SQL fragments (column names / expressions), not Columns, and
    parses the whole predicate as ONE expression: the previous
    Column-API composition cost ~140 ms of py4j round trips per round
    plan — pure serial driver time at every cluster size.  The parsed tree and
    generated code are identical either way (equality-tested against
    the numpy probe in tests/test_bloom_jvm.py)."""
    h = f"({hash_sql} & {(1 << 63) - 1})"
    mix = f"(({h} ^ shiftright({h}, 31) ^ shiftleft({h}, 17)) & {(1 << 58) - 1})"
    mask = " | ".join(
        f"shiftleft(1L, cast(shiftright({mix}, {6 * i}) & 63 as int))"
        for i in range(k)
    )
    idx = f"pmod({h} & {(1 << 61) - 1}, {m_bits // 64}L)"
    word = f"element_at({arr_sql}, cast({idx} + 1 as int))"
    return F.expr(f"((~{word} & ({mask})) = 0)")


def with_bloom_flag(
    spark: SparkSession,
    df: DataFrame,
    bloom: BloomFilter,
    col: str = "url_hash",
) -> DataFrame:
    """Add ``_maybe_seen`` boolean via the JVM bitmap probe.

    The bitmap rides in as a broadcast join (see ``bitmap_df`` for why
    not a subquery/literal); the helper column is dropped immediately
    so nothing downstream caches or shuffles the array."""
    probed = df.join(F.broadcast(bitmap_df(spark, bloom)))
    return probed.withColumn(
        "_maybe_seen",
        bloom_probe_col("_bloom_arr", bloom.m_bits, bloom.k, col),
    ).drop("_bloom_arr")
