"""Per-layer timings, taken from outside the program: from committed
manifests and the workdir, and by calling each layer's public function
on state the measured crawl committed."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from llm_scraper_spark.functions.bloom import BloomFilter, with_bloom_flag
from llm_scraper_spark.functions.urls import canonicalize_series, hash_series
from llm_scraper_spark.operators.frontier import (
    frontier_delta,
    retry_rows,
    run_round,
)
from llm_scraper_spark.sources.synthweb import fetch_batch

#: manifest phases reported on their own.  ``bloom_wait`` is left out:
#: it reads 0.000 s at these sizes, because the absorb of one round's
#: delta ends long before the next round's plan
_PHASES = ("plan", "write_fetched", "write_next_frontier", "counts", "compact_seen")
#: cap on the rows handed to the in-process kernels
_KERNEL_ROWS = 20_000


def _files(path: str) -> int:
    return sum(len(names) for _root, _dirs, names in os.walk(path))


def crawler_metrics(workdir: str, measured: list[dict]) -> dict[str, float]:
    """Medians over the measured rounds of the manifests' phase times,
    the unaccounted rest of each round, and files written per round."""
    out = {}
    for ph in _PHASES:
        vals = [m["phase_sec"][ph] for m in measured if ph in m["phase_sec"]]
        if vals:
            out[f"crawler.{ph}_s"] = statistics.median(vals)
    out["crawler.other_s"] = statistics.median(
        m["elapsed_sec"] - sum(m["phase_sec"].values()) for m in measured
    )
    files = []
    for m in measured:
        r = m["round"]
        n = 1  # the manifest
        for sub in (f"fetch/r{r}.parquet", f"blocked/r{r}.parquet",
                    f"frontier/r{r + 1}.parquet"):
            n += _files(os.path.join(workdir, sub))
        if "compact_seen" in m["phase_sec"]:
            n += _files(os.path.join(workdir, "seen_compact", f"r{r}.parquet"))
        files.append(n)
    out["crawler.files_per_round"] = statistics.median(files)
    return out


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _seen_hashes(crawler, upto: int) -> np.ndarray:
    cols = [
        pq.read_table(d, columns=["url_hash"]).column("url_hash").to_numpy()
        for d in crawler._seen_dirs(upto)
    ]
    return np.concatenate(cols).astype(np.uint64) if cols else np.zeros(0, np.uint64)


def call_metrics(spark, crawler, budget_ms: int) -> dict[str, float]:
    """Time each layer's public entry point on the state committed
    before the crawl's last round (frontier, run_round, frontier_delta,
    bloom) and on that round's fetched pages (synthweb, urls)."""
    last = crawler.last_committed_round()
    wd = crawler.workdir
    out: dict[str, float] = {}

    # ---- bloom: build over the committed seen set, probe it, flag the
    # frontier through the JVM probe
    hs = _seen_hashes(crawler, last)
    bloom = BloomFilter.empty(max(4096, 4 * len(hs)))
    t = time.perf_counter()
    bloom.add(hs)
    out["bloom.add_ns_per_key"] = (time.perf_counter() - t) / len(hs) * 1e9
    t = time.perf_counter()
    bloom.maybe_contains(hs)
    out["bloom.probe_ns_per_key"] = (time.perf_counter() - t) / len(hs) * 1e9
    current = spark.read.parquet(os.path.join(wd, "frontier", f"r{last + 1}.parquet"))
    out["bloom.flag_noop_s"] = _noop(with_bloom_flag(spark, current, bloom))

    # ---- frontier: the last round again, from the state before it
    prev_seen = _seen_hashes(crawler, last - 1)
    prev_bloom = BloomFilter.empty(max(4096, 4 * len(prev_seen)))
    prev_bloom.add(prev_seen)
    frontier = spark.read.parquet(os.path.join(wd, "frontier", f"r{last}.parquet"))
    robots = spark.read.parquet(os.path.join(wd, "robots.parquet"))
    seen = crawler.seen_df(last - 1)
    calls, res = [], None
    for _ in range(3):
        if res is not None:
            res.unpersist()
        t = time.perf_counter()
        res = run_round(
            spark, frontier, seen, robots, round_no=last, budget_ms=budget_ms,
            bloom=prev_bloom, seen_rows=len(prev_seen),
        )
        calls.append(time.perf_counter() - t)
    out["frontier.run_round_call_s"] = statistics.median(calls)
    out["frontier.fetched_noop_s"] = _noop(res.fetched)
    snap = spark.read.parquet(os.path.join(wd, "fetch", f"r{last}.parquet"))
    snap_delta = snap.select(
        "url_hash", F.col("doc_id").alias("url"), F.col("round").alias("first_round")
    ).unionByName(spark.read.parquet(os.path.join(wd, "blocked", f"r{last}.parquet")))
    delta = frontier_delta(
        snap, seen, snap_delta, res.deferred, round_no=last,
        retries=retry_rows(snap, last), seen_rows=len(prev_seen),
    )
    out["frontier.delta_noop_s"] = _noop(delta)
    res.unpersist()

    # ---- synthweb and urls: the in-process kernels on that round's pages
    pages = pq.read_table(
        os.path.join(wd, "fetch", f"r{last}.parquet"), columns=["doc_id"]
    ).column("doc_id").to_pandas()[:_KERNEL_ROWS]
    t = time.perf_counter()
    fetched = fetch_batch(pages)
    out["synthweb.fetch_us_per_url"] = (time.perf_counter() - t) / len(pages) * 1e6
    links = fetched[["doc_id", "outlinks"]].explode("outlinks").dropna()
    t = time.perf_counter()
    hash_series(canonicalize_series(links["outlinks"], links["doc_id"]))
    out["urls.canonicalize_us_per_link"] = (
        (time.perf_counter() - t) / len(links) * 1e6
    )
    return out


def compact_seen_s(crawler) -> float:
    """One seen-set compaction of the committed state, for crawls too
    short to reach the program's own compaction cadence."""
    t = time.perf_counter()
    crawler._compact_seen(crawler.last_committed_round())
    return time.perf_counter() - t

