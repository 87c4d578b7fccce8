"""Hot-domain skew defense (SURVEY.md §7.5): one host owning half the
frontier must NOT serialize the fetch stage onto one partition.

The fetch repartition key is (host, url_hash % salt_buckets), so a hot
host spreads over salt_buckets partitions.  Asserted on the fetched
output's spark_partition_id distribution — the same lineage the crawl
manifests record."""

from pyspark.sql import functions as F

from llm_scraper_spark import schemas
from llm_scraper_spark.operators.frontier import run_round
from llm_scraper_spark.plans.crawler import seeds_to_frontier

N_HOT = 400
N_COLD = 400
SALT_BUCKETS = 16
FETCH_PARTITIONS = 16


def _skewed_frontier(spark):
    hot = [f"https://hot.example.com/item/{i}" for i in range(N_HOT)]
    cold = [
        f"https://site-{i % 40}.example.com/item/{i}" for i in range(N_COLD)
    ]
    return seeds_to_frontier(spark, hot + cold)


def _partition_counts(df):
    return {
        int(r["pid"]): int(r["n"])
        for r in df.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def test_hot_host_spreads_over_salt_buckets(spark):
    frontier = _skewed_frontier(spark)
    seen = spark.createDataFrame([], schemas.SEEN)
    robots = spark.createDataFrame([], schemas.ROBOTS)
    res = run_round(
        spark,
        frontier,
        seen,
        robots,
        round_no=0,
        budget_ms=10**9,  # politeness off: isolate the partitioning
        salt_buckets=SALT_BUCKETS,
        fetch_partitions=FETCH_PARTITIONS,
    )
    fetched = res.fetched

    hot_parts = _partition_counts(fetched.filter(F.col("host") == "hot.example.com"))
    all_parts = _partition_counts(fetched)
    total = sum(all_parts.values())
    assert total == N_HOT + N_COLD

    # the hot host's rows land on many partitions, not one
    assert len(hot_parts) >= SALT_BUCKETS // 2, (
        f"hot host on only {len(hot_parts)} partitions: {hot_parts}"
    )
    # no partition holds a serial-bottleneck share (unsalted: one
    # partition would hold all 50%)
    max_share = max(all_parts.values()) / total
    assert max_share < 0.25, f"max partition share {max_share:.2f}: {all_parts}"
    res.unpersist()


def test_unsalted_baseline_would_serialize(spark):
    """Sanity check of the premise: partitioning by host alone puts the
    hot host on ONE partition — the bottleneck the salt removes."""
    frontier = _skewed_frontier(spark)
    by_host = frontier.repartition(FETCH_PARTITIONS, F.col("host"))
    hot_parts = _partition_counts(by_host.filter(F.col("host") == "hot.example.com"))
    assert len(hot_parts) == 1
