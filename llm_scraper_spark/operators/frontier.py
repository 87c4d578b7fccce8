"""One crawl round as a pure DataFrame job — the heart of the north rule.

Pipeline per round (SURVEY.md §3.1 "Spark lifecycle equivalent"):

    frontier ⟕anti seen (Bloom-prefiltered, exact-confirmed)
      → robots gate (broadcast dim join)
      → per-host politeness slots (window) → eligible/deferred split
      → salted host-hash repartition → mapInPandas fetch+extract
      → outlink canonicalization (Arrow UDF) → next-frontier delta
      → seen delta

Reference analogs:
- anti-join seen:   ``if page.url not in VISITED`` / ``set`` membership
                    (extract_product_urls.py:39-41,57; db.py:76-79) — J3
- politeness slots: fixed per-page sleeps (scrape_eccomerce.py:55,
                    121-124) — W2; here slot*crawl_delay_ms is the
                    host-local fetch time, budget_ms caps a round
- pagination BFS:   round-r frontier = links(round r−1) anti-join seen
                    (extract_product_urls.py:121-133) — W3
- robots gate:      absent in the reference; required by the north rule

Everything is DataFrame ops + Arrow pandas UDFs; there is no driver-side
iteration over rows anywhere (the frontier is never collected).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.bloom import BloomFilter, with_bloom_flag
from ..functions.urls import canonicalize_col, host_col, url_hash_col
from ..sources.synthweb import fetch_batch, transient_ok

DEFAULT_CRAWL_DELAY_MS = 1000


def host_budget_col(budget_ms: int):
    """Per-host politeness budget — fetches a host admits per round:
    ``greatest(1, floor(budget_ms / crawl_delay_ms))`` with the default
    delay for hosts whose robots row has none.  THE single definition:
    run_round's slot gate and the band-pruning shortfall check
    (plans/crawler._prune_fell_short) must agree on this expression or
    the pruning exactness guarantee silently breaks, so both import it
    from here (r4 ADVICE)."""
    delay = F.coalesce(F.col("crawl_delay_ms"), F.lit(DEFAULT_CRAWL_DELAY_MS))
    return F.greatest(F.lit(1), F.floor(F.lit(budget_ms) / delay)).cast("int")

#: P10 analog of the reference's RETRIES=3 loops
#: (scrape_eccomerce.py:26): a failed fetch re-enters the next round's
#: frontier with attempt+1 until this many attempts are spent, then
#: the URL is marked resolved (gave up) so it is never rescheduled.
DEFAULT_MAX_ATTEMPTS = 3

#: Seen-set size above which the exact anti-joins switch from
#: shuffled-hash to sort-merge.  SHJ is fastest while every partition's
#: in-heap UnsafeHashedRelation fits, but it CANNOT spill its build
#: side — and AQE coalesces the skinny seen exchange toward its
#: 64 MB advisory size, so per-task builds grow with the crawl, not
#: with the partition count.  Measured on the 10^7-seed probe
#: (local[32], 16 g heap): SHJ build OOM at seen ≈ 7.0–7.7 M rows in
#: the next-frontier anti-join.  Sort-merge spills both sides to disk
#: and is the only strategy that holds at 10^10 URLs; the threshold
#: keeps the cheap path for the regime where it is provably safe
#: (≈0.5 GB total build at 4 M rows, spread over the join's
#: partitions).
SEEN_SHJ_MAX_ROWS = 4_000_000


def _seen_join_hint(seen_rows: int | None) -> str:
    """Join-strategy policy for anti-joins whose right side is the
    (unbounded) seen set: hash while small, merge (spillable) beyond."""
    if seen_rows is not None and seen_rows > SEEN_SHJ_MAX_ROWS:
        return "merge"
    return "shuffle_hash"

_FETCH_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>, outlinks array<string>, "
    "depth int, slot int, priority double, url_hash long, host string, "
    "attempt int, ok boolean"
)


@dataclass
class RoundResult:
    fetched: DataFrame        # superset: url/spans/outlinks/slot/host/…
    blocked: DataFrame        # robots-blocked rows (url_hash, url, first_round)
    deferred: DataFrame       # politeness-deferred rows (FRONTIER schema)
    _cached: list = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self._cached:
            df.unpersist()


def _fetch_map_factory(fail_mod: int, fail_attempts: int):
    """mapInPandas kernel factory: Arrow batches of eligible frontier
    rows → (doc_id, spans, outlinks, ok) via the deterministic
    synthetic web.  Pass-through of slot/priority/etc. keeps the fetch
    log join-free.  A row that fails (transient_ok) yields NO content
    — blank spans and outlinks — so no document row and no discovered
    link can leak from a failed fetch; with fail_mod=0 (the default)
    ok is constant-true and the content path is byte-identical to the
    pre-retry kernel."""

    def _fetch_map(iterator):
        for pdf in iterator:
            fetched = fetch_batch(pdf["url"])
            if fail_mod > 0:
                ok = [
                    transient_ok(u, int(a), fail_mod, fail_attempts)
                    for u, a in zip(pdf["url"], pdf["attempt"])
                ]
                fetched["spans"] = [
                    s if o else [] for s, o in zip(fetched["spans"], ok)
                ]
                fetched["outlinks"] = [
                    ln if o else [] for ln, o in zip(fetched["outlinks"], ok)
                ]
            else:
                ok = [True] * len(pdf)
            fetched["depth"] = pdf["depth"].values
            fetched["slot"] = pdf["slot"].values
            fetched["priority"] = pdf["priority"].values
            fetched["url_hash"] = pdf["url_hash"].values
            fetched["host"] = pdf["host"].values
            fetched["attempt"] = pdf["attempt"].values
            fetched["ok"] = ok
            yield fetched

    return _fetch_map


def run_round(
    spark: SparkSession,
    frontier: DataFrame,
    seen: DataFrame,
    robots: DataFrame,
    *,
    round_no: int,
    budget_ms: int = 2000,
    fetch_partitions: int | None = None,
    salt_buckets: int = 16,
    bloom: BloomFilter | None = None,
    seen_rows: int | None = None,
    fail_mod: int = 0,
    fail_attempts: int = 0,
) -> RoundResult:
    """Execute crawl round ``round_no``; all outputs are lazy DataFrames.

    ``salt_buckets``: the hot-host skew defense — fetch partitioning is
    on (host, salt) where salt = url_hash % salt_buckets, so one hot
    host spreads over ``salt_buckets`` partitions instead of one.

    ``fetch_partitions``: None (the default) lets AQE size the fetch
    stage — the (host, salt) exchange is column-keyed only, and AQE
    coalesces it from its map statistics, so a few-thousand-URL round
    runs a few Python fetch tasks rather than one per shuffle partition
    (each Python task has a fixed worker round-trip cost).  An explicit
    value pins exactly that many fetch partitions.

    ``bloom``: the URL-seen prefilter; None plans the exact anti-join
    alone.

    Materialization contract: ``fetched`` is not persisted — every
    consumer of it re-executes the Python fetch kernel when
    independently materialized.  This is deliberate: ``Crawler.run``
    writes ``fetched`` to its parquet snapshot exactly once and derives
    every other output (next frontier, seen delta) from the WRITTEN
    snapshot, which is both crash-consistent and cheaper than
    .persist() (AQE broadcast builds were measured re-executing a
    persisted fetch on cache miss).  Library callers that materialize
    more than one output directly must do the same: write ``fetched``
    once, then derive — correctness survives re-execution only because
    the synthetic fetch is deterministic.
    """
    # frontiers written before the retry column existed (or built by
    # hand in tests) normalize to attempt 0
    if "attempt" not in frontier.columns:
        frontier = frontier.withColumn("attempt", F.lit(0))

    # --- J3: frontier anti-join seen, Bloom-prefiltered ----------------
    # The seen set is unbounded (10^10 URLs at target scale): its
    # anti-joins must be partitioned shuffle joins, never broadcast.
    # Without the hint, AQE's size estimate under-costs the seen scan
    # and builds a whole-seen-set in-heap HashedRelation — measured as
    # full-GC storms (345 s GC in a 60 s stage) once seen passes ~10^6
    # rows.  Strategy is two-regime (see _seen_join_hint): shuffled
    # hash while the per-partition build provably fits, sort-merge
    # (fully spillable) beyond.
    seen_keys = seen.select("url_hash", "url").hint(_seen_join_hint(seen_rows))
    if bloom is not None:
        flagged = with_bloom_flag(spark, frontier, bloom)
        fresh = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
        maybe = (
            flagged.filter(F.col("_maybe_seen"))
            .drop("_maybe_seen")
            .join(seen_keys, ["url_hash", "url"], "left_anti")
        )
        candidates = fresh.unionByName(maybe)
    else:
        candidates = frontier.join(seen_keys, ["url_hash", "url"], "left_anti")

    # --- robots gate (per-host dim table) ------------------------------
    # no compile-time broadcast hint: robots scales with the number of
    # known HOSTS (10^7-10^8 on a real 10^10-URL web), so Spark's size
    # estimate decides — the KB-scale table auto-broadcasts, a
    # multi-GB one shuffles instead of OOMing the driver (same
    # discipline as the seen-set anti-joins above)
    # regexp path extraction (codegen'd; url is already canonical)
    path = F.regexp_extract(F.col("url"), r"^[a-z]+://[^/?#]*(/[^?#]*)", 1)
    gated = (
        candidates.join(robots, "host", "left")
        .withColumn(
            "_blocked",
            F.col("disallow_prefix").isNotNull()
            & path.startswith(F.col("disallow_prefix")),
        )
        # persisted: the blocked branch, the politeness window, and the
        # deferred split all read this — without the cache each consumer
        # replays the Bloom probe + anti-join + robots join over the
        # whole frontier (a full frontier pass per consumer at scale)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    blocked_seen = (
        gated.filter(F.col("_blocked"))
        .select("url_hash", "url", F.lit(round_no).alias("first_round"))
    )
    allowed = gated.filter(~F.col("_blocked"))

    # --- W2: per-host politeness slots (two-phase, skew-balanced) ------
    # A single Window.partitionBy(host) puts a hot host's ENTIRE
    # frontier share (25% of rows on the bench web) into one task — at
    # high core counts that straggler serializes the round.  Ranking is
    # therefore two-phase: (1) rank within (host, salt) — balanced by
    # construction — and keep only local rank ≤ budget (a row whose
    # global per-host rank ≤ budget has local rank ≤ budget a fortiori,
    # so no eligible row is lost); (2) re-rank the ≤ salt_buckets×budget
    # survivors per host globally.  For every row with final slot ≤
    # budget all globally-ahead rows also survive phase 1, so the slot
    # numbers of eligible rows are identical to the one-phase window's
    # (crawl-ordering equality is unaffected; deferred rows need no
    # slot).  Phase-2 input per host is capped, so the skew is gone.
    budget = host_budget_col(budget_ms)
    w_local = Window.partitionBy("host", "_salt").orderBy("priority", "url_hash")
    # persisted: the survivor and locally-deferred splits both read this
    pre = (
        allowed.withColumn("_salt", F.pmod(F.col("url_hash"), F.lit(salt_buckets)))
        .withColumn("_budget", budget)
        .withColumn("_lrank", F.row_number().over(w_local))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    defer_local = pre.filter(F.col("_lrank") > F.col("_budget"))
    w = Window.partitionBy("host").orderBy("priority", "url_hash")
    # persisted: both the eligible and deferred splits read this, and the
    # window shuffle should run once per round
    slotted = (
        pre.filter(F.col("_lrank") <= F.col("_budget"))
        .withColumn("slot", F.row_number().over(w))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    eligible = slotted.filter(F.col("slot") <= F.col("_budget"))
    deferred = (
        slotted.filter(F.col("slot") > F.col("_budget"))
        .unionByName(defer_local.withColumn("slot", F.lit(None).cast("int")))
        .select(
            "url", "url_hash", "host", "priority", "depth",
            "discovered_round", "attempt",
        )
    )

    # --- fetch: salted host-hash repartition → Arrow fetch kernel ------
    to_fetch = eligible.select(
        "url", "url_hash", "host", "priority", "depth", "slot", "_salt", "attempt"
    )
    # NOT persisted: the driver writes this superset to its parquet
    # snapshot exactly once and every other consumer derives from the
    # WRITTEN snapshot (see Crawler.run).  Relying on .persist() for
    # cross-output reuse was measured to re-execute the python fetch +
    # canonicalize pipeline inside AQE broadcast-build jobs at higher
    # core counts (cache reuse is best-effort; snapshot reads are
    # structural).
    # no count → a column-keyed exchange that AQE coalesces; a count pins it
    width = [] if fetch_partitions is None else [fetch_partitions]
    fetched = (
        to_fetch.repartition(*width, F.col("host"), F.col("_salt"))
        .drop("_salt")
        .mapInPandas(_fetch_map_factory(fail_mod, fail_attempts), _FETCH_SCHEMA)
    )

    return RoundResult(
        fetched=fetched.withColumn("round", F.lit(round_no)),
        blocked=blocked_seen,
        deferred=deferred,
        _cached=[gated, pre, slotted],
    )


def frontier_delta(
    fetched: DataFrame,
    seen: DataFrame,
    seen_delta: DataFrame,
    deferred: DataFrame,
    *,
    round_no: int,
    retries: DataFrame | None = None,
    inlink_weight: float = 0.0,
    seen_rows: int | None = None,
    extra_known: DataFrame | None = None,
) -> DataFrame:
    """W3: new frontier links = canonicalized outlinks of ``fetched``,
    anti-joined against (seen ∪ this round's delta ∪ deferred ∪
    ``extra_known`` — the band-pruned passthrough's (url_hash, url)
    keys, which are still scheduled even though this round never read
    them).

    ``fetched`` should be the round's WRITTEN parquet snapshot when
    driving a real crawl (Crawler.run) so the fetch kernel provably
    runs once; the lazy in-round DataFrame works too (tests).
    """
    raw_links = fetched.select(
        F.col("doc_id").alias("base"), "depth", F.explode("outlinks").alias("raw")
    )
    # hash + host are computed BEFORE the dedup shuffle, on the (wide,
    # fully parallel) exploded-links side, and ride through the groupBy
    # as extra keys (they are pure functions of url, so the key set is
    # unchanged).  Computing them after the groupBy puts the per-URL
    # work into the AQE-coalesced post-shuffle stage — measured as a
    # single-task serial bottleneck at local[32].
    canon = (
        raw_links.withColumn(
            "url", canonicalize_col(F.col("raw"), F.col("base"))
        )
        .filter(F.col("url").isNotNull())
        .withColumn("url_hash", url_hash_col(F.col("url")))
        .withColumn("host", host_col(F.col("url")))
        .groupBy("url", "url_hash", "host")
        .agg(
            (F.min("depth") + 1).alias("depth"),
            F.count("*").alias("_n_inlinks"),
        )
        .withColumn(
            "priority",
            # OPIC-style in-degree prioritization, opt-in: a URL linked
            # from many pages this round outranks same-host siblings of
            # equal depth inside the politeness budget (priority sorts
            # ASC in the W2 window).  The in-link count falls out of
            # the dedup groupBy already being paid — zero extra
            # shuffle.  Weight 0 (default) keeps priority == depth,
            # bit-identical to the reference-equality contract.
            F.col("depth").cast("double")
            - F.lit(inlink_weight) * F.log2(F.col("_n_inlinks").cast("double"))
            if inlink_weight
            else F.col("depth").cast("double"),
        )
        .drop("_n_inlinks")
        .withColumn("discovered_round", F.lit(round_no + 1))
        .withColumn("attempt", F.lit(0))
    )
    # ONE anti-join against the union of all known URLs, not three
    # chained ones: each chained join re-shuffles the (wide) canon side,
    # so folding the right sides into a single union removes two full
    # shuffles of the link set per round.  Never broadcast: every right
    # side here scales with the crawl; strategy is the two-regime
    # policy (_seen_join_hint) — hash while small, spillable merge
    # beyond (the 10^7-seed probe OOM'd THIS join's SHJ build first:
    # its right side is seen ∪ delta ∪ deferred, the largest in the
    # round).
    known = (
        seen.select("url_hash", "url")
        .unionByName(seen_delta.select("url_hash", "url"))
        .unionByName(deferred.select("url_hash", "url"))
    )
    if retries is not None:
        # pending retries are neither seen nor deferred but ARE already
        # scheduled — without this union a page linking to a currently-
        # failing URL would duplicate it in the next frontier
        known = known.unionByName(retries.select("url_hash", "url"))
    if extra_known is not None:
        known = known.unionByName(extra_known.select("url_hash", "url"))
    return canon.join(
        known.hint(_seen_join_hint(seen_rows)), ["url_hash", "url"],
        "left_anti"
    ).select(
        "url", "url_hash", "host", "priority", "depth",
        "discovered_round", "attempt",
    )


def resolved_filter(max_attempts: int = DEFAULT_MAX_ATTEMPTS):
    """Rows of a fetch snapshot that are RESOLVED — fetched ok, or
    failed their final attempt (gave up).  Only resolved rows enter the
    seen set; a pending-retry row must stay schedulable.  With the
    failure model off every row has ok=true and this folds to true."""
    return F.col("ok") | (F.col("attempt") + 1 >= F.lit(max_attempts))


def retry_rows(
    fetched: DataFrame, round_no: int, max_attempts: int = DEFAULT_MAX_ATTEMPTS
) -> DataFrame:
    """Failed rows with attempts left → next round's frontier, attempt
    bumped (the reference's RETRIES loop as a frontier re-entry —
    SURVEY §2.9 'failed rows re-enter next round's frontier')."""
    return fetched.filter(
        (~F.col("ok")) & (F.col("attempt") + 1 < F.lit(max_attempts))
    ).select(
        F.col("doc_id").alias("url"),
        "url_hash",
        "host",
        "priority",
        "depth",
        F.lit(round_no).alias("discovered_round"),
        (F.col("attempt") + 1).cast("int").alias("attempt"),
    )

