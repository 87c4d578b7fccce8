"""The crawler's driver-side bloom fold must produce exactly the bitmap
that `BloomFilter.add` gives over the committed seen set read through
Spark (`Crawler.seen_df`, the independent reference): after the
incremental per-round absorbs, and after a resume rebuild over a
compacted base plus the deltas since it.  The prefilter's correctness
contract (no false negatives) rides on the probe positions, so the
bitmaps are compared word-for-word.
"""

import numpy as np

from llm_scraper_spark.functions.bloom import BloomFilter
from llm_scraper_spark.plans.crawler import Crawler
from llm_scraper_spark.sources.synthweb import robots_rows, seed_urls


def _run_crawl(spark, wd, rounds=3, **kw):
    c = Crawler(spark, str(wd), budget_ms=2000, use_bloom=True, **kw)
    c.init_state(seed_urls(150), robots_rows())
    c.run(max_rounds=rounds)
    return c


def _seen_hashes(c):
    last = c.last_committed_round()
    return np.array(
        [r["url_hash"] for r in c.seen_df(last).select("url_hash").collect()],
        dtype=np.uint64,
    )


def _assert_matches_spark_reference(c):
    assert c._bloom is not None
    ref = BloomFilter.empty(c._bloom_cap)
    ref.add(_seen_hashes(c))
    assert (c._bloom.m_bits, c._bloom.k) == (ref.m_bits, ref.k)
    assert np.array_equal(c._bloom.words, ref.words)


def test_driver_side_absorb_matches_distributed(spark, tmp_path, monkeypatch):
    rebuilds = []
    rebuild = Crawler._bloom_rebuild

    def counted(self, upto_round, seen_rows):
        rebuilds.append(upto_round)
        rebuild(self, upto_round, seen_rows)

    monkeypatch.setattr(Crawler, "_bloom_rebuild", counted)
    c = _run_crawl(spark, tmp_path / "wd", rounds=4)
    # at least one round was absorbed into the existing bitmap, not
    # rebuilt — else this compares only the rebuild path
    assert len(rebuilds) < c.last_committed_round() + 1, rebuilds
    _assert_matches_spark_reference(c)


def test_resume_rebuild_matches_distributed_over_compacted_base(spark, tmp_path):
    wd = tmp_path / "wd"
    # compact_every=2: round 1 writes the base, round 2 is a delta on it
    c = _run_crawl(spark, wd, rounds=3, compact_every=2)
    assert c.last_committed_round() == 2 and c.latest_compact_round(2) == 1
    # fresh instance = resume path; no round left to run, so its bloom
    # is exactly the rebuild from the committed base + deltas
    c2 = Crawler(spark, str(wd), budget_ms=2000, use_bloom=True, compact_every=2)
    assert c2.run(max_rounds=3) == []
    _assert_matches_spark_reference(c2)


def test_absorb_covers_all_seen_urls(spark, tmp_path):
    # no-false-negative contract: every committed seen url_hash probes
    # positive after driver-side absorbs (rebuild-free rounds included)
    c = _run_crawl(spark, tmp_path / "cover")
    hashes = _seen_hashes(c)
    assert len(hashes) > 0
    assert bool(c._bloom.maybe_contains(hashes).all())
