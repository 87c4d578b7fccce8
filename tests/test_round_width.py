"""A crawl round's stages are as wide as its rows.

With AQE sizing the fetch exchange and the round's persisted frames, a
200-seed round runs a few tasks per stage instead of one per shuffle
partition: each Python fetch task and each near-empty task costs a
fixed scheduling and worker round-trip, whatever its row count.  For
the same reason a round starts no job it does not need: the plain
frontier's emptiness is read from its parquet footers.
"""

from __future__ import annotations

import os

from llm_scraper_spark.plans.crawler import Crawler
from llm_scraper_spark.sources.synthweb import robots_rows, seed_urls

GROUP = "round-width"
#: tasks the round below may run (at the test session's local[4] and 8
#: shuffle partitions).  Measured: 149 when the fetch exchange is
#: pinned to shuffle.partitions and the persisted frames keep theirs;
#: 130 with only the fetch exchange sized by AQE; 65 with only the
#: persisted frames; 46 with both.
ROUND_TASK_BUDGET = 60
#: jobs and tasks of round 1, the first round that ships the seen
#: filter's bitmap and probes it (same session shape).  Measured: 25
#: jobs and 64 tasks when the bitmap shipped as a staged parquet file
#: (its broadcast scanned the file in a job of its own); 24 and 63
#: since it ships as an in-memory Arrow table.
ROUND1_JOB_BUDGET = 25
ROUND1_TASK_BUDGET = 64


def _group_tasks(sc, group: str = GROUP) -> tuple[int, int]:
    """(tasks, stages) of the jobs tagged ``group``; a stage shared by
    two jobs counts once, a skipped stage (its shuffle output reused)
    not at all."""
    st = sc.statusTracker()
    stages = set()
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        stages.update(info.stageIds if info else ())
    ran = [i for i in map(st.getStageInfo, stages) if i and i.numCompletedTasks]
    return sum(i.numTasks for i in ran), len(ran)


def _in_group(sc, group: str, action):
    """``action()`` with its jobs tagged ``group``.  Returns once the
    jobs' start events are in the status tracker (they arrive through
    the listener bus, after the action returns)."""
    sc.setJobGroup(group, group)
    try:
        return action()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()


def test_one_round_runs_within_task_budget(spark, tmp_path):
    sc = spark.sparkContext
    crawler = Crawler(spark, str(tmp_path), budget_ms=2000)
    crawler.init_state(seed_urls(200), robots_rows())
    (manifest,) = _in_group(sc, GROUP, lambda: crawler.run(max_rounds=1))
    assert manifest["fetched"] > 0
    tasks, stages = _group_tasks(sc)
    assert tasks <= ROUND_TASK_BUDGET, (tasks, stages)
    fetch_dir = os.path.join(str(tmp_path), "fetch", "r0.parquet")
    parts = [f for f in os.listdir(fetch_dir) if f.startswith("part-")]
    assert 1 <= len(parts) <= sc.defaultParallelism, parts


def test_probing_round_runs_within_job_budget(spark, tmp_path):
    sc = spark.sparkContext
    crawler = Crawler(spark, str(tmp_path), budget_ms=2000)
    crawler.init_state(seed_urls(200), robots_rows())
    crawler.run(max_rounds=1)
    group = "round-width-r1"
    (manifest,) = _in_group(sc, group, lambda: crawler.run(max_rounds=2))
    assert manifest["round"] == 1 and manifest["fetched"] > 0
    assert crawler._bloom is not None  # round 1 probed the filter
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    tasks, stages = _group_tasks(sc, group)
    assert jobs <= ROUND1_JOB_BUDGET, (jobs, tasks, stages)
    assert tasks <= ROUND1_TASK_BUDGET, (jobs, tasks, stages)


def test_plain_frontier_emptiness_check_runs_no_job(spark, tmp_path):
    sc = spark.sparkContext
    crawler = Crawler(spark, str(tmp_path), budget_ms=2000)
    crawler.init_state(seed_urls(50), robots_rows())
    r0 = os.path.join(str(tmp_path), "frontier", "r0.parquet")
    spark.read.parquet(r0).limit(0).write.parquet(
        os.path.join(str(tmp_path), "frontier", "r1.parquet")
    )
    _in_group(sc, "frontier-read", lambda: spark.read.parquet(r0))
    full = _in_group(sc, "frontier-r0", lambda: crawler._read_frontier(0, 0))
    empty = _in_group(sc, "frontier-r1", lambda: crawler._read_frontier(1, 0))
    jobs = {
        g: len(sc.statusTracker().getJobIdsForGroup(g))
        for g in ("frontier-read", "frontier-r0", "frontier-r1")
    }
    # a bare read's own jobs (schema inference), and nothing more
    assert jobs["frontier-r0"] <= jobs["frontier-read"], jobs
    assert jobs["frontier-r1"] == 0, jobs
    assert full is not None and full.frontier.count() == 50
    assert empty is None
