#!/usr/bin/env python
"""Bloom-at-10^10 accounting probe (round-4 verdict task 4): build a
parquet-backed sharded Bloom whose TOTAL bitmap is >= 4 GB, absorb a
delta, compact, and probe — measuring wall time per phase and the
driver's peak RSS, which must stay flat because bitmaps never touch
the driver in the BloomDir path (executor fold → parquet, ship paths
not bytes).

At 10^10 URLs / 1% fpp the bitmap is ~11.2 GB (9.59 bits/URL); this
probe sizes the same shard geometry at 4+ GB, which is past any
plausible broadcast/collect ceiling, and exercises exactly the code
path a real 10^10 deployment would run (build_bloom_dir /
absorb_bloom_dir / with_bloom_flag / compact_bloom_dir).

    python -m scripts.probe_bloom_dir --capacity 4000000000 \
        --shards 256 --rows 20000000 --out BLOOM_PROBE.json
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import tempfile
import time


def _rss_gb() -> float:
    return round(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 / 1024, 2
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--capacity", type=int, default=4_000_000_000)
    ap.add_argument("--shards", type=int, default=256)
    ap.add_argument("--rows", type=int, default=20_000_000)
    ap.add_argument("--delta-rows", type=int, default=2_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from llm_scraper_spark.functions import bloom as B
    from llm_scraper_spark.session import get_spark

    spark = get_spark(
        "probe-bloom-dir", cores=args.cores, shuffle_partitions=64
    )
    path = tempfile.mkdtemp(prefix="bloom_dir_probe_") + "/bloom"
    out: dict = {
        "probe": "bloom-dir-4gb",
        "capacity": args.capacity,
        "shards": args.shards,
        "build_rows": args.rows,
        "delta_rows": args.delta_rows,
        "rss_gb_start": _rss_gb(),
    }
    try:
        # deterministic 63-bit hash frames, generated distributed
        def hashes(n: int, offset: int):
            # SQL & is the bitwise AND (the python Column & is boolean).
            # ``offset`` must keep id ranges DISJOINT across calls:
            # xxhash64 is one fixed function, so overlapping inputs are
            # the same hashes, not fresh ones.
            return spark.range(n).selectExpr(
                f"(xxhash64(id + {offset}L) & {(1 << 63) - 1}L) AS url_hash"
            )

        t0 = time.monotonic()
        bd = B.build_bloom_dir(
            hashes(args.rows, 0),
            capacity=args.capacity,
            path=path,
            shards=args.shards,
        )
        out["build_sec"] = round(time.monotonic() - t0, 2)
        bitmap_gb = bd.n_shards * (bd.m_bits // 8) / 1e9
        out["bitmap_gb"] = round(bitmap_gb, 2)
        out["m_bits_per_shard"] = bd.m_bits
        out["k"] = bd.k
        out["dir_gb_on_disk"] = round(
            sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(path)
                for f in fs
            )
            / 1e9,
            2,
        )

        t0 = time.monotonic()
        B.absorb_bloom_dir(hashes(args.delta_rows, 10**12), bd)
        out["absorb_sec"] = round(time.monotonic() - t0, 2)

        # probe: all inserted rows must flag maybe=True; fresh rows
        # measure fpp — run through the REAL candidate-split path
        t0 = time.monotonic()
        probe = hashes(200_000, 0).unionByName(hashes(200_000, 2 * 10**12))
        flagged = B.with_bloom_flag(spark, probe, bd)
        n_flagged = (
            flagged.agg(
                F.sum(F.col("_maybe_seen").cast("long")).alias("s")
            ).collect()[0]["s"]
        )
        out["probe_sec"] = round(time.monotonic() - t0, 2)
        inserted_flagged = (
            B.with_bloom_flag(spark, hashes(200_000, 0), bd)
            .agg(F.sum(F.col("_maybe_seen").cast("long")).alias("s"))
            .collect()[0]["s"]
        )
        out["inserted_flagged"] = int(inserted_flagged)
        out["inserted_probed"] = 200_000
        out["false_negatives"] = 200_000 - int(inserted_flagged)
        out["fresh_fp_rate"] = round((int(n_flagged) - 200_000) / 200_000, 5)

        t0 = time.monotonic()
        B.compact_bloom_dir(spark, bd)
        out["compact_sec"] = round(time.monotonic() - t0, 2)
        out["rows_after_compact"] = spark.read.parquet(path).count()
        out["rss_gb_peak_driver"] = _rss_gb()
        text = json.dumps(out, indent=1)
        if args.out:
            with open(args.out, "w") as f:
                f.write(text)
        print(text)
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
