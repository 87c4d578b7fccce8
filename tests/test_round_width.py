"""A crawl round's stages are as wide as its rows.

With AQE sizing the fetch exchange and the round's persisted frames, a
200-seed round runs a few tasks per stage instead of one per shuffle
partition: each Python fetch task and each near-empty task costs a
fixed scheduling and worker round-trip, whatever its row count.
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


def _group_tasks(sc) -> tuple[int, int]:
    """(tasks, stages) of the jobs tagged ``GROUP``; a stage shared by
    two jobs counts once, a skipped stage (its shuffle output reused)
    not at all."""
    st = sc.statusTracker()
    stages = set()
    for job in st.getJobIdsForGroup(GROUP):
        info = st.getJobInfo(job)
        stages.update(info.stageIds if info else ())
    ran = [i for i in map(st.getStageInfo, stages) if i and i.numCompletedTasks]
    return sum(i.numTasks for i in ran), len(ran)


def test_one_round_runs_within_task_budget(spark, tmp_path):
    sc = spark.sparkContext
    crawler = Crawler(spark, str(tmp_path), budget_ms=2000)
    crawler.init_state(seed_urls(200), robots_rows())
    sc.setJobGroup(GROUP, "one 200-seed crawl round")
    try:
        (manifest,) = crawler.run(max_rounds=1)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert manifest["fetched"] > 0
    tasks, stages = _group_tasks(sc)
    assert tasks <= ROUND_TASK_BUDGET, (tasks, stages)
    fetch_dir = os.path.join(str(tmp_path), "fetch", "r0.parquet")
    parts = [f for f in os.listdir(fetch_dir) if f.startswith("part-")]
    assert 1 <= len(parts) <= sc.defaultParallelism, parts
