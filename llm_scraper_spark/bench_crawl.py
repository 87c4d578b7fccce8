"""Crawl-throughput benchmark job — run once per parallelism level.

Measures URLs fetched+deduped per second over the 4096-host bench web
(the BASELINE.json headline metric).  Invoked as a subprocess by
bench.py at two core counts (N and 4N) on the *same* input to evidence
the scaling-efficiency criterion without a real cluster:

    python -m llm_scraper_spark.bench_crawl --cores 8 --seeds 20000
"""

from __future__ import annotations

import argparse
import json
import shutil
import tempfile
import time

from .plans.crawler import Crawler
from .session import get_spark
from .sources.synthweb import bench_robots_rows, bench_seed_urls


def _clock_probe(seconds: float = 1.5) -> float | None:
    """Single-thread matmul rate inside THIS (pinned) process — a
    direct per-leg measurement of the cycle-delivery regime the leg ran
    under.  Motivation (BASELINE.md, 2026-08-19): across one evening
    the host's 1-core legs sped up ~10% while the 8/32-core points fell
    8-20% (turbo-probe ratio 0.83 — inverse clock asymmetry), which no
    engine change can produce; per-leg clocks let a pair's efficiency
    be read NEXT TO its clock ratio instead of inferring weather from
    the throughput being measured.  Reported context, not an estimator
    input."""
    try:
        import numpy as np

        # elementwise kernel, NOT matmul: numpy matmul dispatches to a
        # multi-threaded BLAS, which silently uses the whole cpuset —
        # measured: a 4-core leg probed ~3.6x a 1-core leg's "clock".
        # Elementwise ufuncs are single-threaded, so the rate tracks
        # one core's delivered cycles regardless of the leg's cpuset.
        a = np.random.default_rng(0).random(1 << 16)
        for _ in range(3):
            (a * 1.0000001 + 0.5).sum()  # warm
        t0 = time.perf_counter()
        n = 0
        while time.perf_counter() - t0 < seconds:
            (a * 1.0000001 + 0.5).sum()
            n += 1
        return round(n / (time.perf_counter() - t0), 1)
    except Exception:
        return None  # diagnostic only — never abort the leg


def run(cores: int, seeds: int, rounds: int, budget_ms: int) -> dict:
    import os

    clock_pre = _clock_probe()
    # Partition POLICY is fixed across parallelism levels — a function
    # of the level's core budget, not a constant: shuffle width 4x
    # cores, python fetch workers 2x cores (both floored at 8).  This
    # is how a real deployment sizes a level (shuffle partitions and
    # python-worker pool scale with executors; scripts/submit_crawl.py
    # documents the same sizing), so an N→4N comparison configures
    # each level as that cluster size would actually run.  The
    # round-3 re-measure after the straggler/absorb fixes: at 8 cores
    # fp=16/sp=32 → 32.8k URLs/s vs fp=8/sp=8 → 28.1k; at 32 cores
    # fp=32-64/sp=64-128 → 34.6-49.7k (epoch-dependent) vs ~30k best
    # ever at fp=8 — the old fixed fp=8 was measuring an
    # artificially starved high-core engine.
    sp_env = os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE_PARTITIONS")
    fp_env = os.environ.get("SPARK_GRAFT_BENCH_FETCH_PARTITIONS")
    spark = get_spark(
        f"bench-crawl-{cores}",
        cores=cores,
        shuffle_partitions=int(sp_env) if sp_env else max(4 * cores, 8),
    )
    workdir = tempfile.mkdtemp(prefix=f"bench_crawl_{cores}_")
    try:
        # fetch_partitions follows the level policy above (2x cores,
        # floor 8): each fetch task owns a python worker, so the
        # worker pool scales with the level's core budget exactly as
        # a cluster deployment sizes it, and 2 waves per stage keep
        # the pool packed against task-length variance.  (Round 1's
        # fixed fp=8 finding — "fp=32 thrashes at 32 cores" — did not
        # survive the round-3 straggler/absorb fixes: with balanced
        # frontier files, fp=2x cores wins at every level ≥ 8 cores.)
        crawler = Crawler(
            spark,
            workdir,
            budget_ms=budget_ms,
            salt_buckets=32,
            use_bloom=True,
            fetch_partitions=int(fp_env) if fp_env else max(2 * cores, 8),
            # Priority-band frontier pruning (r4) stays OFF for the
            # 2-round criterion legs: pruning is a steady-state
            # optimization (it engages from round 1 and must survive a
            # possible exactness fallback), and on this web's shape —
            # few hosts × huge per-host politeness budgets — the
            # shortfall check correctly refuses to prune-and-trust, so
            # a 2-round leg would just pay the double round (measured:
            # 1-core 5.7k → 3.8k URLs/s).  The regime pruning exists
            # for (10^7+-row frontiers, budget-limited rounds) is
            # evidenced by the dedicated long probe instead
            # (BENCH_PROBE_10M*.json / BASELINE.md).
            band_prune=os.environ.get("SPARK_GRAFT_BAND_PRUNE", "0") == "1",
        )
        crawler.init_state(bench_seed_urls(seeds), bench_robots_rows())
        manifests = crawler.run(max_rounds=rounds)
        fetched = sum(m["fetched"] for m in manifests)
        deduped = sum(m["seen_delta"] for m in manifests)
        elapsed = sum(m["elapsed_sec"] for m in manifests)
        # Steady-state throughput: rounds after the first.  Round 0 is
        # the JIT/worker warm-up round (whole-stage codegen compilation,
        # python worker pool spin-up, page-cache priming) — a real crawl
        # runs hundreds of rounds, so steady-state is the
        # representative per-round figure; the warm-up round is still
        # reported in rounds_detail and in the all-rounds totals.
        steady = [m for m in manifests[1:]] or manifests
        s_fetched = sum(m["fetched"] for m in steady)
        s_elapsed = sum(m["elapsed_sec"] for m in steady)
        return {
            "cores": cores,
            "rounds": len(manifests),
            "fetched": fetched,
            "seen_delta": deduped,
            "elapsed_sec": round(elapsed, 3),
            "urls_per_sec": round(fetched / elapsed, 2) if elapsed else None,
            "steady_fetched": s_fetched,
            "steady_elapsed_sec": round(s_elapsed, 3),
            "steady_urls_per_sec": (
                round(s_fetched / s_elapsed, 2) if s_elapsed else None
            ),
            # per-leg cycle-delivery regime (matmuls/s pre and post the
            # rounds, measured in this pinned process) — lets a pair's
            # efficiency be read next to its legs' clock ratio
            "clock_probe": {"pre": clock_pre, "post": _clock_probe()},
            # per-round phase evidence for the scaling criterion audit
            "rounds_detail": [
                {
                    "round": m["round"],
                    "fetched": m["fetched"],
                    "elapsed_sec": m["elapsed_sec"],
                    "phase_sec": m["phase_sec"],
                }
                for m in manifests
            ],
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--seeds", type=int, default=20000)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--budget-ms", type=int, default=60000)
    args = ap.parse_args()
    print(json.dumps(run(args.cores, args.seeds, args.rounds, args.budget_ms)))
