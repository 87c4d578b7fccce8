"""Parquet-backed sharded Bloom (BloomDir) — the 10^10-URL bloom path
where bitmaps never touch the driver.  Contracts:

* probe equality with the in-memory ShardedBloom built at the same
  (capacity, shards, fpp) over the same hashes — flag-for-flag;
* no false negatives: every inserted hash probes maybe=True, before
  and after append-absorb and after compaction;
* compaction folds delta rows back to ≤1 row per shard and changes no
  probe result, and a compaction interrupted between its two renames
  is repaired on load;
* the non-broadcast (shuffle_hash equi-join) probe path returns the
  same flags as the broadcast path;
* hashes with the top bit set route and probe identically in every
  engine, at power-of-two and other shard counts.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from llm_scraper_spark.functions import bloom as B


def _hash_df(spark, values):
    return spark.createDataFrame(
        [(int(np.int64(v)),) for v in values], "url_hash long"
    )


@pytest.fixture(scope="module")
def corpus():
    rng = np.random.default_rng(7)
    base = rng.integers(0, 1 << 63, 5000, dtype=np.int64)
    delta = rng.integers(0, 1 << 63, 1500, dtype=np.int64)
    fresh = rng.integers(0, 1 << 63, 3000, dtype=np.int64)
    return base, delta, fresh


def _flags(spark, bloom, values):
    df = B.with_bloom_flag(spark, _hash_df(spark, values), bloom)
    out = {
        r["url_hash"]: r["_maybe_seen"]
        for r in df.select("url_hash", "_maybe_seen").collect()
    }
    return [out[int(np.int64(v))] for v in values]


def test_dir_matches_inmemory_sharded(spark, tmp_path, corpus):
    base, _, fresh = corpus
    path = str(tmp_path / "bloom")
    bd = B.build_bloom_dir(
        _hash_df(spark, base), capacity=20000, path=path, shards=16
    )
    sb = B.ShardedBloom.from_hashes(base, capacity=20000, n_shards=16)
    assert (bd.m_bits, bd.k) == (sb.m_bits, sb.k)
    probe = np.concatenate([base, fresh])
    want = sb.maybe_contains(probe.view(np.uint64)).tolist()
    got = _flags(spark, bd, probe)
    assert got == want
    assert all(got[: len(base)])  # no false negatives


def test_append_absorb_and_compact(spark, tmp_path, corpus):
    base, delta, fresh = corpus
    path = str(tmp_path / "bloom")
    bd = B.build_bloom_dir(
        _hash_df(spark, base), capacity=20000, path=path, shards=16
    )
    B.absorb_bloom_dir(_hash_df(spark, delta), bd)
    rows_before = spark.read.parquet(path).count()
    assert rows_before > bd.n_shards  # delta rows appended, not merged
    probe = np.concatenate([base, delta, fresh])
    flags_appended = _flags(spark, bd, probe)
    assert all(flags_appended[: len(base) + len(delta)])
    B.compact_bloom_dir(spark, bd)
    bd2 = B.BloomDir.load(path)
    assert (bd2.n_shards, bd2.m_bits, bd2.k) == (bd.n_shards, bd.m_bits, bd.k)
    assert spark.read.parquet(path).count() <= bd.n_shards
    assert _flags(spark, bd2, probe) == flags_appended
    # a crash between compaction's two renames leaves only path.old:
    # load puts it back
    os.rename(path, path + ".old")
    bd3 = B.BloomDir.load(path)
    assert not os.path.exists(path + ".old")
    assert _flags(spark, bd3, probe) == flags_appended


def test_shuffle_join_path_matches_broadcast(
    spark, tmp_path, corpus, monkeypatch
):
    base, _, fresh = corpus
    path = str(tmp_path / "bloom")
    bd = B.build_bloom_dir(
        _hash_df(spark, base), capacity=20000, path=path, shards=16
    )
    probe = np.concatenate([base, fresh])
    broadcast_flags = _flags(spark, bd, probe)
    monkeypatch.setattr(B, "BLOOM_BROADCAST_MAX_BYTES", 0)
    assert _flags(spark, bd, probe) == broadcast_flags


def test_empty_shard_probes_false_not_null(spark, tmp_path):
    """Hashes routing to a shard with no bitmap row must flag False —
    a NULL would drop them from both sides of the candidate split."""
    path = str(tmp_path / "bloom")
    # all mass in shard 0: multiples of the shard count
    vals = np.arange(0, 4000 * 16, 16, dtype=np.int64)
    bd = B.build_bloom_dir(
        _hash_df(spark, vals), capacity=20000, path=path, shards=16
    )
    probe = np.arange(1, 50 * 16, 16, dtype=np.int64)  # shard 1: empty
    flags = _flags(spark, bd, probe)
    assert flags == [False] * len(probe)


def test_top_bit_hashes_route_identically(spark, tmp_path, monkeypatch):
    """Hashes ≥ 2^63 (negative as int64 — outside the 63-bit url_hash
    contract, but the filters accept arbitrary hashes): the executor
    fold, the broadcast JVM probe, the map-side numpy probe and the
    ShardedBloom reference must agree on shard routing (signed
    floor-mod everywhere) and probe positions (bit 63 masked
    everywhere) — no false negatives, even with a non-power-of-two
    shard count."""
    rng = np.random.default_rng(23)
    top = np.int64(-(1 << 63))
    added = rng.integers(0, 1 << 62, size=3000, dtype=np.int64) | top
    fresh = rng.integers(0, 1 << 62, size=1000, dtype=np.int64) | top
    probe = np.concatenate([added, fresh])
    for shards in (1, 5):  # 5: non-power-of-two, the divergent case
        bd = B.build_bloom_dir(
            _hash_df(spark, added), capacity=4096,
            path=str(tmp_path / f"s{shards}"), shards=shards,
        )
        ref = B.ShardedBloom.from_hashes(added, capacity=4096, n_shards=shards)
        want = ref.maybe_contains(probe.view(np.uint64)).tolist()
        assert all(want[: len(added)]), shards
        assert _flags(spark, bd, probe) == want, shards
        with monkeypatch.context() as m:
            m.setattr(B, "BLOOM_BROADCAST_MAX_BYTES", 0)  # map-side probe
            assert _flags(spark, bd, probe) == want, shards
