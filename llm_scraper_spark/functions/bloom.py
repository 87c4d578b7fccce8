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
(``BloomFilter.maybe_contains``) computes the same bit positions and is
the reference the JVM probe is tested against (tests/test_bloom_jvm.py).
A sharded or blocked filter for bitmaps too big for one process would
replace this type, not sit beside it.

Reference analog: in-memory ``VISITED`` list / ``set()``
(extract_product_urls.py:12,39-41,57) — O(n) driver memory, the exact
thing that cannot scale; this replaces it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Double-hash mixing uses ONLY shift/xor/mask (no 64-bit multiply):
# the same probe indices are computed by the numpy path below and by
# the JVM column expression in ``bloom_probe_col`` — bigint multiply
# would overflow-throw under ANSI SQL, shift/xor/and never do.  All
# intermediates stay < 2^61 so numpy-uint64 and JVM-signed-int64
# arithmetic agree bit-for-bit.
_MASK61 = np.uint64((1 << 61) - 1)
_MASK58 = np.uint64((1 << 58) - 1)
_MASK64 = np.uint64((1 << 64) - 1)


@dataclass
class BloomFilter:
    m_bits: int
    k: int
    words: np.ndarray  # uint64[m_bits/64]

    def _indices(self, hashes: np.ndarray) -> np.ndarray:
        """k probe positions per hash — double hashing, fully vectorized.

        Bit 63 is masked off FIRST, exactly as the JVM probe does
        (``hash & (2^63-1)`` in ``bloom_probe_col``): url_hash is
        contractually 63-bit, but the filter accepts arbitrary hashes,
        and an unmasked top bit would leak into ``h1 >> 31`` and
        diverge the two engines' probe positions."""
        h1 = hashes.astype(np.uint64) & np.uint64((1 << 63) - 1)
        with np.errstate(over="ignore"):
            h1m = h1 & _MASK61
            h2 = ((h1 ^ (h1 >> np.uint64(31)) ^ ((h1 << np.uint64(17)) & _MASK64))
                  & _MASK58) | np.uint64(1)
            steps = np.arange(self.k, dtype=np.uint64)[:, None]
            return ((h1m[None, :] + steps * h2[None, :]) % np.uint64(self.m_bits))

    def add(self, hashes: np.ndarray) -> None:
        idx = self._indices(np.asarray(hashes, dtype=np.uint64)).ravel()
        # Boolean scatter + packbits instead of bitwise_or.at: .at is an
        # unbuffered read-modify-write ufunc (~10 M probes/s); a plain
        # fancy store into a bool bitmap + one packbits pass is ~10x
        # faster and bit-identical (duplicates just store True twice).
        # Gated on bitmap size: the bool temp costs m_bits BYTES (1 GiB
        # at the 2^30-bit gate, 8x the 128 MiB bitmap itself), so past
        # 2^30 bits fall back to the in-place path.
        if self.m_bits <= (1 << 30) and idx.size >= 4096:
            bits = np.zeros(self.m_bits, dtype=bool)
            bits[idx.astype(np.int64)] = True
            self.words |= np.packbits(bits, bitorder="little").view(np.uint64)
        else:
            np.bitwise_or.at(
                self.words, (idx // 64).astype(np.int64), np.uint64(1) << (idx % 64)
            )

    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        idx = self._indices(np.asarray(hashes, dtype=np.uint64))
        bits = (self.words[(idx // 64).astype(np.int64)] >> (idx % 64)) & np.uint64(1)
        return bits.all(axis=0).astype(bool)

    @classmethod
    def empty(cls, capacity: int, fpp: float = 0.01) -> "BloomFilter":
        capacity = max(capacity, 1024)
        m = int(-capacity * math.log(fpp) / (math.log(2) ** 2))
        m = ((m + 63) // 64) * 64
        k = max(1, round(m / capacity * math.log(2)))
        return cls(m, k, np.zeros(m // 64, dtype=np.uint64))


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
    into the generated Java k times and Janino compile time explodes.
    As a join-side attribute the generated code is a bound reference —
    constant-size — and the array lives once in the broadcast, never
    copied per row."""
    import pyarrow as pa

    words = np.asarray(bloom.words, dtype=np.uint64).view(np.int64)
    arr = pa.array([words], type=pa.list_(pa.int64()))
    return spark.createDataFrame(pa.Table.from_arrays([arr], names=["_bloom_arr"]))


def bloom_probe_col(arr_sql: str, m_bits: int, k: int, hash_sql: str) -> "F.Column":
    """JVM-side Bloom probe over an ``array<bigint>`` bitmap column:
    k shift/xor/mask probes + element_at/getbit — whole-stage-
    codegen'd, no Python in the filter path.  The arithmetic mirrors
    ``BloomFilter._indices`` bit-for-bit (see the mixing note above).

    Takes SQL fragments (column names / expressions), not Columns, and
    parses the whole k-probe predicate as ONE expression: the previous
    Column-API composition cost ~140 ms of py4j round trips per round
    plan — pure serial driver time at every cluster size.  The parsed
    tree and generated code are identical either way (equality-tested
    against the numpy probe in tests/test_bloom_jvm.py)."""
    h1 = f"({hash_sql} & {(1 << 63) - 1})"
    h1m = f"({h1} & {(1 << 61) - 1})"
    h2 = (
        f"((({h1} ^ shiftright({h1}, 31) ^ shiftleft({h1}, 17)) "
        f"& {(1 << 58) - 1}) | 1)"
    )
    probes = []
    for i in range(k):
        idx = f"pmod({h1m} + {i} * {h2}, {m_bits}L)"
        word = f"element_at({arr_sql}, cast(shiftright({idx}, 6) + 1 as int))"
        probes.append(f"(getbit({word}, cast(pmod({idx}, 64) as int)) = 1)")
    return F.expr("(" + " AND ".join(probes) + ")")


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
