#!/usr/bin/env python
"""``spark-submit`` entry point for the crawl pipeline — the cluster
deployment shape the north rule names (``spark-submit --py-files`` on N
and 4N executors).

Usage (the package ships as a zip via --py-files; nothing in the job
depends on the repo checkout being present on the executors):

    cd /root/repo && zip -qr /tmp/llm_scraper_spark.zip llm_scraper_spark
    spark-submit --master local[8] \\
        --py-files /tmp/llm_scraper_spark.zip \\
        scripts/submit_crawl.py \\
        --seeds 20000 --rounds 2 --workdir /tmp/crawl_out

On a real cluster, swap ``--master`` for the cluster manager
(``yarn`` / ``k8s://...`` / ``spark://...``) and size
``--num-executors`` / ``--executor-cores`` there; this script sets NO
master and NO driver-JVM options in code (both would silently override
or no-op against the submit flags — see session.get_spark(cluster=True)).

Re-running with the same --workdir resumes from the last committed
round manifest (checkpoint/resume is the Crawler's contract, covered by
tests/test_resume.py).  Emits one JSON line per completed round on
stdout and a final summary line, mirroring bench_crawl's output shape.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seeds", type=int, default=20000,
                    help="synthetic-web seed count (bench_seed_urls)")
    ap.add_argument("--seeds-file", default=None,
                    help="newline-delimited URL seed list (overrides --seeds)")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--workdir", required=True,
                    help="state dir (snapshots + manifests); reuse to resume")
    ap.add_argument("--budget-ms", type=int, default=2000)
    ap.add_argument("--salt-buckets", type=int, default=32)
    ap.add_argument("--fetch-partitions", type=int, default=None,
                    help="python fetch-worker parallelism; default: "
                         "sized by AQE from each round's rows")
    ap.add_argument("--no-bloom", action="store_true")
    ap.add_argument("--max-attempts", type=int, default=3,
                    help="bounded-retry cap: failed fetches re-enter the "
                         "frontier until this many attempts, then resolve "
                         "as gave-up")
    ap.add_argument("--inlink-weight", type=float, default=0.0,
                    help="OPIC-style in-degree priority weight "
                         "(0 = reference FIFO order)")
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="override spark.sql.shuffle.partitions "
                         "(default: leave the submit-provided value)")
    args = ap.parse_args()

    # imports AFTER spark-submit has placed the --py-files zip on the
    # python path
    from llm_scraper_spark.plans.crawler import Crawler
    from llm_scraper_spark.session import get_spark
    from llm_scraper_spark.sources.synthweb import (
        bench_robots_rows,
        bench_seed_urls,
    )

    extra = {}
    if args.shuffle_partitions:
        extra["spark.sql.shuffle.partitions"] = str(args.shuffle_partitions)
    spark = get_spark("llm-scraper-crawl", cluster=True, extra_conf=extra)

    if args.seeds_file:
        with open(args.seeds_file) as f:
            seed_list = [ln.strip() for ln in f if ln.strip()]
    else:
        seed_list = bench_seed_urls(args.seeds)

    crawler = Crawler(
        spark,
        args.workdir,
        budget_ms=args.budget_ms,
        salt_buckets=args.salt_buckets,
        use_bloom=not args.no_bloom,
        fetch_partitions=args.fetch_partitions,
        max_attempts=args.max_attempts,
        inlink_weight=args.inlink_weight,
    )
    crawler.init_state(seed_list, bench_robots_rows())
    manifests = crawler.run(max_rounds=args.rounds)
    for m in manifests:
        print(json.dumps({k: m[k] for k in ("round", "fetched", "seen_delta",
                                            "elapsed_sec") if k in m}))
    fetched = sum(m.get("fetched", 0) for m in manifests)
    elapsed = sum(m.get("elapsed_sec", 0.0) for m in manifests)
    print(json.dumps({
        "rounds": len(manifests),
        "fetched": fetched,
        "seen_delta": sum(m.get("seen_delta", 0) for m in manifests),
        "elapsed_sec": round(elapsed, 3),
        "urls_per_sec": round(fetched / elapsed, 2) if elapsed else None,
        "workdir": args.workdir,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
