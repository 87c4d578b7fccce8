"""Output checks, computed apart from the engine.

The committed parquet snapshots are read with pyarrow and DuckDB, never
with Spark, and compared against the sequential Spark-free reference
``plans/oracle.crawl_oracle`` and against ``synthweb.page_spans``.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pyarrow.parquet as pq

from llm_scraper_spark.plans.oracle import crawl_oracle
from llm_scraper_spark.sources.synthweb import page_spans

_PATH_RE = r"^[a-z]+://[^/?#]*(/[^?#]*)"


def _parts(workdir: str, table: str) -> str:
    return os.path.join(workdir, table, "r*.parquet", "*.parquet")


def _read(workdir: str, table: str, columns: list[str]) -> list[dict]:
    rows: list[dict] = []
    for d in sorted(glob.glob(os.path.join(workdir, table, "r*.parquet"))):
        rows += pq.read_table(d, columns=columns).to_pylist()
    return rows


def _duckdb_properties(workdir: str, budget_ms: int, seen_total: int) -> dict:
    fetch = f"read_parquet('{_parts(workdir, 'fetch')}')"
    blocked = f"read_parquet('{_parts(workdir, 'blocked')}')"
    robots = f"read_parquet('{os.path.join(workdir, 'robots.parquet', '*.parquet')}')"
    con = duckdb.connect()
    try:
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        return {
            "no_url_fetched_twice": one(
                f"SELECT count(*) - count(DISTINCT doc_id) FROM {fetch}"
            )
            == 0,
            "slot_within_host_budget": one(
                f"SELECT count(*) FROM {fetch} f LEFT JOIN {robots} r USING (host) "
                f"WHERE f.slot < 1 OR f.slot > greatest(1, {budget_ms} "
                "// coalesce(r.crawl_delay_ms, 1000))"
            )
            == 0,
            "no_fetch_under_disallow": one(
                f"SELECT count(*) FROM {fetch} f JOIN {robots} r USING (host) "
                "WHERE r.disallow_prefix IS NOT NULL AND starts_with("
                f"regexp_extract(f.doc_id, '{_PATH_RE}', 1), r.disallow_prefix)"
            )
            == 0,
            "blocked_under_disallow": one(
                f"SELECT count(*) FROM {blocked} b "
                f"LEFT JOIN {robots} r ON r.host = regexp_extract(b.url, "
                "'^[a-z]+://([^/?#]*)', 1) WHERE r.disallow_prefix IS NULL "
                f"OR NOT starts_with(regexp_extract(b.url, '{_PATH_RE}', 1), "
                "r.disallow_prefix)"
            )
            == 0,
            "seen_is_fetched_union_blocked": one(
                f"SELECT count(*) FROM (SELECT doc_id AS url FROM {fetch} "
                f"UNION ALL SELECT url FROM {blocked})"
            )
            == one(
                f"SELECT count(DISTINCT url) FROM (SELECT doc_id AS url FROM {fetch} "
                f"UNION ALL SELECT url FROM {blocked})"
            )
            == seen_total,
        }
    finally:
        con.close()


def oracle(
    seeds: list[str], robots: list[dict], budget_ms: int, rounds: int
) -> tuple[list[tuple], set[tuple], int]:
    """The reference crawl, reduced to what the checks compare: the
    fetch schedule (round, slot, host, url), the seen set (url,
    first_round) and the number of documents."""
    ora = crawl_oracle(seeds, robots, budget_ms=budget_ms, max_rounds=rounds)
    return (
        [(r, s, h, u) for (r, s, h, u, _uh, _p, _d) in ora.fetch_log],
        set(ora.seen.items()),
        len(ora.documents),
    )


def check_crawl(
    workdir: str, budget_ms: int, oracle_result, resumed_round: int | None = None
) -> dict[str, bool]:
    """Every check by name.  ``oracle_result`` is a future of
    ``oracle()`` over the rounds the workdir committed.
    ``resumed_round`` names a round that a fresh Crawler ran from the
    reopened state; it is compared on its own as well."""
    mdir = os.path.join(workdir, "manifests")
    last = max(int(f[1:-5]) for f in os.listdir(mdir) if f.endswith(".json"))
    with open(os.path.join(mdir, f"r{last}.json")) as f:
        seen_total = json.load(f)["seen_total"]
    out = _duckdb_properties(workdir, budget_ms, seen_total)

    fetch = _read(workdir, "fetch", ["round", "slot", "host", "doc_id"])
    got = [(r["round"], r["slot"], r["host"], r["doc_id"]) for r in fetch]
    seen = {(r["doc_id"], r["round"]) for r in fetch}
    seen |= {
        (r["url"], r["first_round"])
        for r in _read(workdir, "blocked", ["url", "first_round"])
    }

    spans_ok = True
    n_docs = 0
    for d in sorted(glob.glob(os.path.join(workdir, "fetch", "r*.parquet"))):
        for row in pq.read_table(d, columns=["doc_id", "spans"]).to_pylist():
            n_docs += 1
            got_spans = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in row["spans"]
            ]
            want_spans = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in page_spans(row["doc_id"])
            ]
            if got_spans != want_spans or [s[3] for s in got_spans] != list(
                range(len(got_spans))
            ):
                spans_ok = False
    want_log, want_seen, want_docs = oracle_result.result()
    want = set(want_log)
    out["fetch_schedule_equals_oracle"] = set(got) == want and len(got) == len(
        want_log
    )
    out["seen_set_equals_oracle"] = seen == want_seen
    if resumed_round is not None:
        out["resumed_round_equals_oracle"] = {
            t for t in got if t[0] == resumed_round
        } == {t for t in want if t[0] == resumed_round}
    out["spans_equal_page_spans"] = spans_ok and n_docs == want_docs
    return out
