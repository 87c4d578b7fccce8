"""Plan-quality lint over EVERY registered query's physical plan.

The 100 TB discipline, enforced mechanically:
- no CartesianProduct anywhere;
- BroadcastNestedLoopJoin only where the build side is bounded by
  construction (1-row global aggregates, the fixed query/centroid sets)
  — each allowlisted key carries its justification;
- predicate pushdown and column pruning actually reach the parquet
  scans for representative queries (a scan that reads all columns for
  a 2-column projection is wrong even when results match).

Batch-query plans are compiled, not executed.  Streaming keys are
EXCLUDED from the generic sweep — calling them drains a real stream
and the resulting memory-sink scan is not the plan under test — and
linted instead via their builder functions applied to a batch frame,
which yields the actual join/aggregate shape.  Two iterative keys
(dedup_clusters, link_pagerank_topk) execute bounded sf0.001 work to
build their plans; that is inherent to fixpoint/driver-loop operators.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"

#: BroadcastNestedLoopJoin allowlist — every entry must name WHY the
#: build side cannot grow with the corpus.
BNLJ_JUSTIFIED = {
    "tpch_q22_sales_opportunity": "1-row global avg-balance aggregate",
    "tpch_q11_important_stock": "1-row global supply-value aggregate",
    "unigram_lm_score": "1-row global token-total aggregate",
    "bigram_lm_score": "1-row vocabulary-size aggregate",
    "dsir_importance_score": "1-row target/raw token-total aggregates",
    "a8_fuzzy_precision_count": "fixed sentence-variant literal table",
    "a9_vote_majority": "fixed judge-panel literal table",
    "extract_triplet_pipeline": "fixed rule/prompt literal table",
    "w4_span_dedup": "two 1-row aggregates cross-joined (gate shell)",
    "sim_bruteforce_topk": "N_QUERIES(=10)-row query set — documented baseline",
    "ann_ivf_topk": "N_CELLS(=8)-row codebook",
    "ann_ivf_trained_topk": "N_CELLS(=8)-row trained codebook",
    "ann_ivf_train_cells": "N_CELLS(=8)-row codebook per Lloyd's iteration",
    "semdedup": "N_CELLS(=8)-row codebook broadcast in the assign step",
    "lang_sampling_weights": "1-row weight-total aggregate broadcast",
    "ann_recall_eval": "composes sim_bruteforce_topk + ann_ivf_topk",
    "ann_pq_topk": "N_QUERIES(=10)-row broadcast distance-table frame (ADC scan)",
    "ann_sq8_topk": "N_QUERIES(=10)-row broadcast query set (SQ8 ADC scan)",
    "ann_pq_recall": "composes sim_bruteforce_topk + ann_pq_topk",
    "corpus_source_mix": "1-row corpus-total aggregate",
    "hits_topk": "1-row per-iteration max-rescale aggregates (HITS fixpoint)",
    "corpus_len_histogram": "1-row corpus-total aggregate",
    "bm25_topk": "1-row (n_docs, total_dl) corpus-stats aggregate",
    "crawl_budget_allocation": "1-row Σrank aggregate broadcast",
    "funnel_conversion": "three 1-row stage-count aggregates",
    "shuffle_skew_report": "1-row (total, max, nb) bucket-stats aggregate",
    "kmv_intersection": "K(=64)-row sketch frames + 1-row exact-stats aggregate",
    "dedup_lsh_eval": "1-row LSH-pair-count aggregate joined onto the 1-row truth/hit aggregate",
}


def _plan(spark, name: str) -> str:
    df = entry.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name", sorted(k for k in entry.queries() if not k.startswith("stream_"))
)
def test_no_cartesian_and_bnlj_only_where_bounded(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if "BroadcastNestedLoopJoin" in plan:
        assert name in BNLJ_JUSTIFIED, (
            f"{name}: BroadcastNestedLoopJoin with no documented bounded "
            "build side — add a justification or fix the join"
        )


def test_streaming_builders_plan_clean_in_batch_shape(spark):
    """The streaming jobs' REAL dataflow shapes, linted by applying
    each builder to a batch events frame (stream drains would hide the
    join/aggregate plan behind a memory-sink scan).  The stream-stream
    join must plan as an equi-join on user_id (the time bounds ride as
    a range condition), never a cartesian/BNLJ."""
    from llm_scraper_spark.streaming import jobs

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    for builder in (
        jobs.view_purchase_join_stream,
        jobs.windowed_counts_stream,
        jobs.stateful_dedup_stream,
    ):
        plan = builder(events)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, builder.__name__
        assert "BroadcastNestedLoopJoin" not in plan, builder.__name__


def _scan_lines(plan: str, table: str) -> list[str]:
    return [
        ln for ln in plan.splitlines() if "FileScan" in ln and table in ln
    ]


def test_q6_filters_reach_the_scan(spark):
    """TPC-H Q6: the date/discount/quantity predicates must be pushed
    into the lineitem parquet scan, and only the 4 referenced columns
    read."""
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    (scan,) = _scan_lines(plan, "lineitem")
    assert "PushedFilters: [IsNotNull" in scan or "GreaterThan" in scan
    assert "ReadSchema: struct<l_quantity" in scan
    assert "l_orderkey" not in scan  # untouched columns stay unread


def test_text_quality_prunes_columns(spark):
    """text_quality computes everything from (doc_id, text): the scan
    must not read lang/source/n_chars."""
    plan = _plan(spark, "text_quality")
    (scan,) = _scan_lines(plan, "documents")
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in scan


def _round0_next_frontier_plan(spark, seen_rows=None) -> str:
    """Physical plan of round 0's next frontier (deferred ∪ retries ∪
    new links) over a 50-seed web, composed the way Crawler.run
    composes it: run_round, then frontier_delta over its outputs."""
    from pyspark.sql import functions as F

    from llm_scraper_spark import schemas
    from llm_scraper_spark.operators.frontier import (
        frontier_delta,
        retry_rows,
        run_round,
    )
    from llm_scraper_spark.plans.crawler import seeds_to_frontier
    from llm_scraper_spark.sources.synthweb import robots_rows, seed_urls

    frontier = seeds_to_frontier(spark, seed_urls(50))
    seen = frontier.select("url_hash", "url").limit(0)
    robots = spark.createDataFrame(robots_rows(), schemas.ROBOTS)
    res = run_round(
        spark,
        frontier,
        seen,
        robots,
        round_no=0,
        budget_ms=2000,
        salt_buckets=4,
        bloom=None,
        fetch_partitions=4,
        seen_rows=seen_rows,
    )
    seen_delta = res.fetched.select(
        "url_hash", F.col("doc_id").alias("url")
    ).unionByName(res.blocked.select("url_hash", "url"))
    retries = retry_rows(res.fetched, 0)
    next_frontier = res.deferred.unionByName(retries).unionByName(
        frontier_delta(
            res.fetched, seen, seen_delta, res.deferred, round_no=0,
            retries=retries, seen_rows=seen_rows,
        )
    )
    plan = next_frontier._jdf.queryExecution().executedPlan().toString()
    res.unpersist()
    return plan


def _fetch_exchange_lines(spark, fetch_partitions) -> list[str]:
    """The user-requested (host, _salt) exchange lines of round 0's
    fetch plan over a 50-seed web (the politeness window's own
    exchange on the same key is ENSURE_REQUIREMENTS)."""
    from llm_scraper_spark import schemas
    from llm_scraper_spark.operators.frontier import run_round
    from llm_scraper_spark.plans.crawler import seeds_to_frontier
    from llm_scraper_spark.sources.synthweb import robots_rows, seed_urls

    frontier = seeds_to_frontier(spark, seed_urls(50))
    res = run_round(
        spark,
        frontier,
        frontier.select("url_hash", "url").limit(0),
        spark.createDataFrame(robots_rows(), schemas.ROBOTS),
        round_no=0,
        salt_buckets=4,
        fetch_partitions=fetch_partitions,
    )
    plan = res.fetched._jdf.queryExecution().executedPlan().toString()
    res.unpersist()
    return [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(host" in ln and "REPARTITION_BY" in ln
    ]


def test_default_fetch_exchange_is_coalescable(spark):
    """With no fetch_partitions the fetch exchange is column-keyed
    (REPARTITION_BY_COL), which AQE coalesces to the round's size; an
    explicit count pins it (REPARTITION_BY_NUM, never coalesced)."""
    (default,) = _fetch_exchange_lines(spark, None)
    assert "REPARTITION_BY_COL" in default, default
    (pinned,) = _fetch_exchange_lines(spark, 4)
    assert "REPARTITION_BY_NUM" in pinned and ", 4)" in pinned, pinned


def test_cached_plans_may_change_output_partitioning(spark):
    """AQE sizes the frames a crawl round persists too."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert spark.conf.get(key) == "true"


def test_crawl_seen_antijoin_never_broadcasts_seen(spark):
    """The frontier⟕seen anti-join must stay a shuffle join: the seen
    set grows with the crawl and may never become an in-heap
    HashedRelation (frontier.py discipline).  Every LeftAnti in the
    round plan must be a ShuffledHashJoin."""
    plan = _round0_next_frontier_plan(spark)
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines, "round plan lost its seen anti-joins"
    for ln in anti_lines:
        assert "ShuffledHashJoin" in ln, f"anti-join not shuffle-hash: {ln}"


def test_crawl_seen_antijoin_switches_to_sort_merge_at_scale(spark):
    """r4 probe fix: SHJ cannot spill its build side, and the 10^7-seed
    probe OOM'd the next-frontier anti-join's hash build at seen ≈ 7M
    rows.  Past SEEN_SHJ_MAX_ROWS every seen-side LeftAnti must plan as
    SortMergeJoin (spillable) — and still never broadcast."""
    from llm_scraper_spark.operators.frontier import SEEN_SHJ_MAX_ROWS

    plan = _round0_next_frontier_plan(spark, seen_rows=SEEN_SHJ_MAX_ROWS + 1)
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines, "round plan lost its seen anti-joins"
    for ln in anti_lines:
        assert "SortMergeJoin" in ln, f"anti-join not sort-merge: {ln}"
        assert "Broadcast" not in ln


_WINDOW_PARTITIONED_RE = r"Window \[.*\], \[[^\[\]]*\], \[[^\[\]]*\]$"


def _unpartitioned_window_lines(plan: str) -> list[str]:
    """Physical-plan Window nodes print `Window [exprs], [part], [ord]`
    when partitioned and only `Window [exprs], [ord]` when the whole
    input funnels through one task — two bracket groups instead of
    three."""
    import re

    out = []
    for ln in plan.splitlines():
        s = ln.strip().lstrip("+-: ").strip()
        if s.startswith("Window ["):
            if not re.search(_WINDOW_PARTITIONED_RE, s):
                out.append(s)
    return out


def test_budget_allocation_has_no_global_window(spark):
    """r3 scale fix: the largest-remainder leftover pick must never
    rank every host in a single-partition window — the two-phase
    bucket selection leaves only bucket-partitioned windows.  The
    dense-id `row_number() ORDER BY doc_id` windows constructing the
    SYNTHETIC host graph are exempt (documented construction-only:
    production vertex ids come from the data, see graph.host_graph)."""
    plan = _plan(spark, "crawl_budget_allocation")
    bad = [
        ln for ln in _unpartitioned_window_lines(plan) if "doc_id" not in ln
    ]
    assert not bad, f"single-partition window(s) in plan: {bad}"
