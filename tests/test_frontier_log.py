"""Log-structured frontier (band_prune mode): append-only banded
generations + consumed-unit manifest.  Contracts under test, on top of
the schedule/seen equality already pinned by tests/test_band_prune.py:

* IMMUTABILITY / O(delta) IO — a (generation, band) unit, once listed
  in a committed manifest, is never rewritten: its part files all
  predate the first manifest that lists it, and its row count never
  changes across the manifests that carry it.  Unread units therefore
  cost ZERO IO per round (the previous design re-read + re-wrote them
  every round).
* GC — after a run, frontier_log/ holds exactly the last manifest's
  live units (consumed and compacted-away dirs are deleted), also after
  a crash between a commit and its GC.
* COMPACTION — the periodic fold bounds the live-generation count,
  preserves the fetch schedule exactly, and survives resume.
* MIGRATION — resuming a plain-mode workdir in band_prune mode turns
  its per-round frontier snapshot into generation 0 and crawls on as
  if the whole crawl had run plain.
"""

import json
import os

from llm_scraper_spark.plans.crawler import Crawler
from llm_scraper_spark.sources.synthweb import robots_rows, seed_urls


def _run(spark, wd, *, rounds, seeds=2000, budget_ms=500, **kw):
    c = Crawler(spark, wd, budget_ms=budget_ms, salt_buckets=4,
                fetch_partitions=4, band_prune=True, **kw)
    c.init_state(seed_urls(seeds), robots_rows())
    return c, c.run(max_rounds=rounds)


def _fetch_schedule(spark, wd, rounds):
    out = {}
    for r in range(rounds):
        p = os.path.join(wd, "fetch", f"r{r}.parquet")
        if not os.path.isdir(p):
            break
        out[r] = {
            (row.doc_id, row.slot)
            for row in spark.read.parquet(p).select("doc_id", "slot").collect()
        }
    return out


def _manifests(wd):
    mdir = os.path.join(wd, "manifests")
    rounds = sorted(int(f[1:-5]) for f in os.listdir(mdir))
    out = []
    for r in rounds:
        p = os.path.join(mdir, f"r{r}.json")
        with open(p) as f:
            m = json.load(f)
        m["_mtime"] = os.path.getmtime(p)
        out.append(m)
    return out


def _unit_key(u):
    return (u["gen"], u["band"])


def test_units_immutable_and_rows_stable(spark, tmp_path):
    wd = str(tmp_path / "wd")
    c, ms = _run(spark, wd, rounds=5)
    ms = _manifests(wd)
    # pruning must actually have engaged, else this proves nothing
    assert any(
        m.get("band_prune", {}).get("rows_passthrough", 0) > 0 for m in ms
    )
    # row counts of a unit never change across the manifests listing it
    rows_seen = {}
    first_listed = {}
    for m in ms:
        for u in m["frontier_log"]["live"]:
            k = _unit_key(u)
            assert rows_seen.setdefault(k, u["rows"]) == u["rows"]
            first_listed.setdefault(k, m["_mtime"])
    # consumed units never reappear in a later manifest
    alive_prev = None
    ever_dropped = set()
    for m in ms:
        now = {_unit_key(u) for u in m["frontier_log"]["live"]}
        assert not (now & ever_dropped), "consumed unit reappeared"
        if alive_prev is not None:
            ever_dropped |= alive_prev - now
        alive_prev = now
    # immutability: every final live unit's part files predate the
    # first manifest that listed the unit (written once, then only read)
    for u in ms[-1]["frontier_log"]["live"]:
        d = c._unit_path(u)
        assert os.path.isdir(d)
        newest = max(
            os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.startswith("part-")
        )
        assert newest <= first_listed[_unit_key(u)] + 0.5


def test_gc_leaves_exactly_live_units(spark, tmp_path):
    wd = str(tmp_path / "wd")
    c, _ = _run(spark, wd, rounds=4)
    last = _manifests(wd)[-1]
    live = {_unit_key(u) for u in last["frontier_log"]["live"]}
    on_disk = set()
    flog = os.path.join(wd, "frontier_log")
    for gdir in os.listdir(flog):
        g = int(gdir[1 : -len(".parquet")])
        for name in os.listdir(os.path.join(flog, gdir)):
            if name.startswith("_band="):
                on_disk.add((g, int(name.split("=")[1])))
    assert on_disk == live


def _units_on_disk(wd):
    flog = os.path.join(wd, "frontier_log")
    return {
        (int(g[1 : -len(".parquet")]), int(name.split("=")[1]))
        for g in os.listdir(flog)
        for name in os.listdir(os.path.join(flog, g))
        if name.startswith("_band=")
    }


def _seen(c):
    return {
        (r.url_hash, r.url)
        for r in c.seen_df(c.last_committed_round()).collect()
    }


def test_resume_deletes_units_orphaned_by_a_crash_before_gc(spark, tmp_path):
    whole, _ = _run(spark, str(tmp_path / "whole"), rounds=3)
    wd = str(tmp_path / "crashed")
    c = Crawler(spark, wd, budget_ms=500, salt_buckets=4,
                fetch_partitions=4, band_prune=True)
    c.init_state(seed_urls(2000), robots_rows())
    # every commit "crashes" before its GC: the consumed units of both
    # committed rounds stay on disk
    c._gc_frontier = lambda live: None
    c.run(max_rounds=2)
    live = {_unit_key(u) for u in _manifests(wd)[-1]["frontier_log"]["live"]}
    orphans = _units_on_disk(wd) - live
    assert orphans
    c2 = Crawler(spark, wd, budget_ms=500, salt_buckets=4,
                 fetch_partitions=4, band_prune=True)
    ms = c2.run(max_rounds=3)
    assert [m["round"] for m in ms] == [2]
    assert not (_units_on_disk(wd) & orphans)
    assert _units_on_disk(wd) == {
        _unit_key(u) for u in ms[-1]["frontier_log"]["live"]
    }
    assert _fetch_schedule(spark, str(tmp_path / "whole"), 3) == \
        _fetch_schedule(spark, wd, 3)
    assert _seen(whole) == _seen(c2)


def test_band_prune_resume_migrates_a_plain_frontier(spark, tmp_path):
    kw = dict(budget_ms=500, salt_buckets=4, fetch_partitions=4)
    whole = Crawler(spark, str(tmp_path / "whole"), **kw)
    whole.init_state(seed_urls(300), robots_rows())
    whole.run(max_rounds=4)
    wd = str(tmp_path / "migrated")
    plain = Crawler(spark, wd, **kw)
    plain.init_state(seed_urls(300), robots_rows())
    plain.run(max_rounds=2)
    assert os.path.isdir(os.path.join(wd, "frontier", "r2.parquet"))
    assert not os.path.exists(os.path.join(wd, "frontier_log"))
    c2 = Crawler(spark, wd, band_prune=True, **kw)
    ms = c2.run(max_rounds=4)
    assert [m["round"] for m in ms] == [2, 3]
    assert _fetch_schedule(spark, str(tmp_path / "whole"), 4) == \
        _fetch_schedule(spark, wd, 4)
    assert _seen(whole) == _seen(c2)
    assert _units_on_disk(wd) == {
        _unit_key(u) for u in ms[-1]["frontier_log"]["live"]
    }


def test_compaction_bounds_generations_and_preserves_schedule(
    spark, tmp_path
):
    plain = Crawler(spark, str(tmp_path / "plain"), budget_ms=500,
                    salt_buckets=4, fetch_partitions=4, band_prune=False)
    plain.init_state(seed_urls(2000), robots_rows())
    plain.run(max_rounds=6)
    wd = str(tmp_path / "log")
    _, ms = _run(spark, wd, rounds=6, frontier_compact_gens=3)
    assert _fetch_schedule(spark, str(tmp_path / "plain"), 6) == \
        _fetch_schedule(spark, wd, 6)
    ms = _manifests(wd)
    assert any("frontier_compact" in m["phase_sec"] for m in ms)
    for m in ms:
        gens = {u["gen"] for u in m["frontier_log"]["live"]}
        assert len(gens) <= 3


def test_resume_across_compaction(spark, tmp_path):
    kw = dict(seeds=2000, budget_ms=500, frontier_compact_gens=2)
    _, _ = _run(spark, str(tmp_path / "whole"), rounds=6, **kw)
    wd = str(tmp_path / "resumed")
    _, _ = _run(spark, wd, rounds=3, **kw)
    c2 = Crawler(spark, wd, budget_ms=500, salt_buckets=4,
                 fetch_partitions=4, band_prune=True,
                 frontier_compact_gens=2)
    ms2 = c2.run(max_rounds=6)
    assert [m["round"] for m in ms2] == [3, 4, 5]
    assert _fetch_schedule(spark, str(tmp_path / "whole"), 6) == \
        _fetch_schedule(spark, wd, 6)
