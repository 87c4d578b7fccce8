"""The two crawl workloads and the inputs they are made from.

Both crawl the program's 4096-host bench web (``bench_seed_urls``,
``bench_robots_rows``; host ``h0`` draws about a quarter of all seeds).
The workload seed picks which slice of the bench seed sequence the
crawler starts from, so the same seed always gives the same seed list
and different seeds give disjoint lists of the same shape.
"""

from __future__ import annotations

from dataclasses import dataclass

from llm_scraper_spark.sources.synthweb import bench_robots_rows, bench_seed_urls

#: distinct seed-list slices; the workload seed is taken modulo this
SEED_SLICES = 16


@dataclass(frozen=True)
class Workload:
    name: str
    n_seeds: int
    budget_ms: int
    #: rounds the crawl commits; round 0 is set-up, the rest are measured
    rounds: int


WORKLOADS = {
    # rounds that fetch every URL the wide budget admits: the
    # fetch kernel, Arrow transfer, outlink canonicalization, the seen
    # anti-join and the snapshot writes carry the round
    "bulk": Workload("bulk", n_seeds=4000, budget_ms=60_000, rounds=2),
    # one fetch per host per round over a backlog several times the
    # round: per-round fixed cost (plan building, job scheduling,
    # Python worker start, small writes, manifest, bloom absorb)
    # carries the round
    "trickle": Workload("trickle", n_seeds=6000, budget_ms=100, rounds=2),
}

#: the same paths at toy size, for exercising the harness only
SMALL = {
    "bulk": Workload("bulk", n_seeds=300, budget_ms=60_000, rounds=2),
    "trickle": Workload("trickle", n_seeds=600, budget_ms=100, rounds=2),
}


def seed_list(w: Workload, seed: int) -> list[str]:
    """Slice ``seed mod SEED_SLICES`` of the bench seed sequence."""
    k = seed % SEED_SLICES
    return bench_seed_urls(w.n_seeds * (k + 1))[w.n_seeds * k :]


def robots() -> list[dict]:
    return bench_robots_rows()
