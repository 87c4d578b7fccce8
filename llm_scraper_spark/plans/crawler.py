"""Driver-side crawl loop: rounds as batch jobs over snapshot state.

Iceberg-style state discipline without the Iceberg runtime (not in this
container): every table is a directory of immutable parquet snapshots
plus an atomically-renamed JSON manifest per round.  A round is
*committed* iff its manifest exists; resume replays from the last
committed manifest — killing the driver mid-round and restarting yields
a byte-identical crawl (tested in tests/test_resume.py).

Layout under ``workdir``:
    robots.parquet                 per-host rules (dim table)
    frontier/r{N}.parquet          frontier *entering* round N
                                   (plain mode; band_prune mode keeps
                                   the frontier in frontier_log/ below)
    frontier_log/g{G}.parquet      one immutable banded GENERATION of
                                   the log-structured frontier
                                   (band_prune mode): hive dirs
                                   ``_band=B/`` written once, consumed
                                   whole-band, never rewritten — see
                                   "Log-structured frontier" below
    fetch/r{N}.parquet             ONE fetched-superset snapshot per
                                   round (url, spans, outlinks, slot,
                                   host, …) — the fetch log, documents
                                   table, and fetched-seen delta are
                                   column projections of it (parquet
                                   column pruning makes each view read
                                   only its columns; one write job per
                                   round instead of three)
    blocked/r{N}.parquet           robots-blocked seen delta (tiny)
    manifests/r{N}.json            commit record: row counts, metrics,
                                   per-partition lineage

The URL-seen Bloom prefilter is a driver-resident ``BloomFilter``
maintained incrementally: after each round the url_hash columns of the
round's fetch and blocked snapshots are folded into the bitmap on the
driver (pyarrow + numpy, one record batch per add, so driver memory
stays bounded at any seen size).  On resume it is rebuilt once, by the
same fold, from the committed seen set; when the seen count passes the
bitmap's design capacity it is rebuilt at 4x (amortized O(1) per
round).

Log-structured frontier (band_prune mode, round 5): the frontier is a
LOG of immutable banded generations, not a per-round snapshot.  Each
round (1) picks the lowest priority bands across ALL live generations
that cover ``band_margin x`` the previous round's fetch count, (2)
runs the candidate pipeline only over those (generation, band) units,
and (3) appends ONE new generation holding just the round's delta —
deferred ∪ retries ∪ newly discovered links.  Unread band directories
are never read, shuffled, or rewritten; per-round frontier IO is
O(delta), where the previous design's passthrough rewrite was
O(frontier) (measured dominant at the 10^7-seed probe, linear at
10^10).  The band key is a pure function of (priority, url_hash), so
the strict band ordering that makes pruning exact is independent of
which generation a row sits in; the invariant "each URL lives in at
most one live unit" holds inductively because every new generation is
anti-joined against the unread units' keys (``extra_known``).  The
manifest commits the live-unit list (generation, band, rows) per
round; unit dirs it does not list are deleted only after the commit
(and again on resume, for a crash between commit and delete), and a
periodic compaction folds all live units into one fresh generation to
bound generation count and file count.

Reference analogs: append-mode output files + manual slice resume
(scrape_eccomerce.py:289 ``"a"`` mode; extract_pages.py:137
``product_urls[355:]``) — replaced by atomic snapshot commits.
SLURM array tasks (llm-scraper-batch.sh:9,106-110) — replaced by Spark
partitions inside each round.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .. import schemas
from ..functions.urls import canonicalize_col, host_col, url_hash_col
from ..operators.frontier import (
    RoundResult,
    frontier_delta,
    resolved_filter,
    retry_rows,
    run_round,
)


@dataclass
class _Round:
    """One round's working state, handed between the step methods of
    ``Crawler.run``.  ``mark`` closes a manifest phase: its wall time
    since the previous mark (or since the round started)."""

    r: int
    frontier: DataFrame
    passthrough: DataFrame | None  # unread units (band_prune), else None
    read_units: list[dict] = field(default_factory=list)
    unread_units: list[dict] = field(default_factory=list)
    prune_info: dict | None = None
    seen: DataFrame | None = None
    res: RoundResult | None = None
    fallback: bool = False
    band_used: int | None = None
    t0: float = field(default_factory=time.monotonic)
    phase_sec: dict[str, float] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._last = self.t0

    def mark(self, name: str) -> None:
        now = time.monotonic()
        self.phase_sec[name] = round(now - self._last, 3)
        self._last = now


def _parquet_partition_rows(path: str) -> list[dict]:
    """Per-partition row counts of a written snapshot, read from the
    parquet footers driver-side (pyarrow) — each write task produced
    one ``part-*`` file, so file == partition.  No Spark job.  Walks
    hive-style partition subdirs (the band-pruned frontier layout)
    as well as flat snapshots."""
    import pyarrow.parquet as pq

    files = []
    for root, _dirs, names in os.walk(path):
        files += [
            os.path.join(root, f) for f in names if f.startswith("part-")
        ]
    return [
        {
            "partition": i,
            "rows": int(pq.ParquetFile(f).metadata.num_rows),
        }
        for i, f in enumerate(sorted(files))
    ]


def _manifest_path(workdir: str, r: int) -> str:
    return os.path.join(workdir, "manifests", f"r{r}.json")


def _write_manifest(workdir: str, r: int, payload: dict) -> None:
    os.makedirs(os.path.join(workdir, "manifests"), exist_ok=True)
    tmp = _manifest_path(workdir, r) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    os.rename(tmp, _manifest_path(workdir, r))  # atomic commit


def seeds_to_frontier(spark: SparkSession, seed_list: list[str]) -> DataFrame:
    """Seed lines → round-0 frontier (S1 + F12: read, canonicalize,
    hash, dedup).  Reference: readlines + set (extract_pages.py:131-132,
    extract_product_urls.py:57)."""
    raw = spark.createDataFrame(
        [(u, i) for i, u in enumerate(seed_list)], "raw string, seed_rank int"
    )
    return (
        raw.withColumn("url", canonicalize_col(F.col("raw")))
        .filter(F.col("url").isNotNull())
        .dropDuplicates(["url"])
        .withColumn("url_hash", url_hash_col(F.col("url")))
        .withColumn("host", host_col(F.col("url")))
        .select(
            "url",
            "url_hash",
            "host",
            F.lit(0.0).alias("priority"),
            F.lit(0).alias("depth"),
            F.lit(0).alias("discovered_round"),
            F.lit(0).alias("attempt"),
        )
    )


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        *,
        budget_ms: int = 2000,
        salt_buckets: int = 16,
        use_bloom: bool = True,
        fetch_partitions: int | None = None,
        compact_every: int = 8,
        fail_mod: int = 0,
        fail_attempts: int = 0,
        max_attempts: int = 3,
        inlink_weight: float = 0.0,
        band_prune: bool = False,
        band_margin: int = 4,
        frontier_compact_gens: int = 8,
    ) -> None:
        self.spark = spark
        self.workdir = workdir
        self.budget_ms = budget_ms
        self.salt_buckets = salt_buckets
        self.use_bloom = use_bloom
        # None: AQE sizes each round's fetch stage from its rows; a
        # count pins that many fetch partitions (and snapshot files)
        self.fetch_partitions = fetch_partitions
        # bounded-retry config (SURVEY §2.9, the reference's RETRIES=3
        # analog): fail_mod>0 turns on the deterministic transient-
        # failure model (synthweb.transient_ok); failed fetches re-enter
        # the next frontier with attempt+1 until max_attempts, then the
        # URL resolves as gave-up (enters seen, never rescheduled).
        # Defaults keep the crawl failure-free and reference-equal.
        self.fail_mod = fail_mod
        self.fail_attempts = fail_attempts
        self.max_attempts = max_attempts
        # OPIC-style in-degree frontier prioritization, opt-in (0.0
        # keeps priority == depth, the reference-equality default):
        # priority = depth - inlink_weight * log2(in-link count)
        self.inlink_weight = inlink_weight
        # rewrite the seen set as one base snapshot every N rounds
        # (0/None disables); deltas since the base still union in
        self.compact_every = compact_every
        # incremental URL-seen prefilter, sized from the committed seen
        # count and rebuilt at 4x when it fills
        self._bloom = None
        self._bloom_cap = 0  # capacity the current bitmap was built at
        # Priority-band frontier pruning over a LOG-STRUCTURED frontier
        # (the Heritrix/IRLbot priority-queue idea expressed as parquet
        # partition pruning + an LSM-style generation log): each round
        # runs the candidate pipeline (bloom probe, seen anti-join,
        # robots gate, the two politeness rank windows) only over the
        # lowest (generation, band) units that cover the round's
        # budget, and appends its delta as a new immutable generation —
        # unread units are NEVER touched (no IO at all; the module
        # docstring has the full design).  Exactness: integer banding
        # makes every unread row's politeness sort key STRICTLY worse
        # than every read row's (the band is a pure function of
        # (priority, url_hash), so this holds across generations), so
        # a host that filled its politeness budget from read bands made
        # identical picks; any host that both fell short AND has unread
        # rows trips the per-round shortfall check, which redoes the
        # round with the full frontier (correctness never depends on
        # the estimate).  Semantics delta, documented: robots-blocked
        # and already-seen rows in UNREAD bands are absorbed in the
        # later round that first reads their band (a drained crawl
        # converges to the exact same final state — tested).  Off by
        # default; the 10^10-scale bench path turns it on.
        self.band_prune = band_prune
        self.band_margin = band_margin
        # fold all live generations into one fresh generation when the
        # live-generation count reaches this (bounds file count and the
        # per-round dir listings; amortized O(frontier / N) per round)
        self.frontier_compact_gens = frontier_compact_gens
        # log-structured frontier state: {"next_gen": int, "live":
        # [{"gen", "band", "rows"}, ...]} — committed in each round's
        # manifest, bootstrapped from it (or from disk) on resume
        self._flog: dict | None = None
        # adaptive: a fallback means the margin under-read for this
        # web's host/budget shape — quadruple it so the next rounds
        # read deeper instead of paying the double-round again (resets
        # only with the crawler instance; a long crawl converges to
        # the margin its regime needs)
        self._band_margin_eff = band_margin
        # measured-cut state (replaces the blind margin once one round
        # has been observed): after each round the driver reads the
        # fetch snapshot's (priority, url_hash) columns — a few MB,
        # pyarrow, no Spark job — and records the DEEPEST band any
        # fetch actually came from plus how many live rows sit at or
        # below it.  The next round's read target is band_safety × that
        # row count: an estimate derived from the politeness fill the
        # crawl actually measured, instead of margin × fetch count (which
        # the fallback adaptation had inflated to 16× on the probe
        # web).  Fallback quadruples the safety factor the same way.
        self._band_safety_base = (
            float(band_margin) / 2 if band_margin > 1 else 1.5
        )
        self._band_safety = self._band_safety_base
        self._band_used_rows: int | None = None

    # ---- state io ------------------------------------------------------
    def _p(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def _frontier_partitions(self) -> int:
        """Write width for frontier snapshots: enough even files that
        the next round's scan has no straggler input split at the
        session's parallelism (parquet files are one row group, so a
        fat file is an unsplittable fat TASK downstream)."""
        return max(
            self.fetch_partitions or 8, self.spark.sparkContext.defaultParallelism
        )

    def init_state(self, seed_list: list[str], robots_rows: list[dict]) -> None:
        os.makedirs(self.workdir, exist_ok=True)
        self.spark.createDataFrame(robots_rows, schemas.ROBOTS).coalesce(1).write.mode(
            "overwrite"
        ).parquet(self._p("robots.parquet"))
        seeds = seeds_to_frontier(self.spark, seed_list)
        if self.band_prune:
            # the seed list is generation 0 of the frontier log
            units = self._write_generation(seeds, 0)
            self._flog = {"next_gen": 1, "live": units}
        else:
            self._write_frontier(seeds, 0)

    # ---- band-pruned frontier layout -----------------------------------
    #: url_hash sub-buckets per priority band (hash-tie-break pruning)
    BAND_HASH_BUCKETS = 64

    def _band_expr(self):
        """The band key.  Base: ``floor(priority)`` — every unread
        band's rows sort strictly after every read band's in the
        politeness order (priority, url_hash).  With the default
        ``inlink_weight == 0`` priority IS the integer depth, so all
        priorities within a band are EQUAL and the tie-break key
        (url_hash) extends the pruning: bands become
        ``depth × 64 + monotone url_hash bucket`` — the huge
        constant-depth seed band splits into 64 strictly-ordered
        sub-bands and the budget reads ~1/64th of it.  A nonzero
        inlink_weight makes priorities vary WITHIN a depth, which
        breaks the sub-band prefix argument — so that mode keeps the
        coarse (still exact) depth bands."""
        base = F.floor("priority").cast("long")
        if self.inlink_weight:
            return base.cast("int")
        bucket = (
            F.shiftright(F.col("url_hash"), 58).cast("long") + F.lit(32)
        )
        return (base * self.BAND_HASH_BUCKETS + bucket).cast("int")

    def _write_frontier(self, df: DataFrame, r: int) -> None:
        """Plain-mode frontier snapshot write (band_prune mode appends
        generations to the log instead — ``_write_generation``)."""
        df.repartition(
            self._frontier_partitions(), F.col("url_hash")
        ).write.mode("overwrite").parquet(self._p("frontier", f"r{r}.parquet"))

    def _frontier_bands(self, fpath: str) -> list[dict]:
        """(band, path, rows) per band directory, ascending band —
        driver-side footer reads only, no Spark job."""
        out = []
        if not os.path.isdir(fpath):
            return out
        for name in os.listdir(fpath):
            if not name.startswith("_band="):
                continue
            d = os.path.join(fpath, name)
            rows = sum(p["rows"] for p in _parquet_partition_rows(d))
            out.append({"band": int(name.split("=")[1]), "path": d, "rows": rows})
        return sorted(out, key=lambda x: x["band"])

    # ---- log-structured frontier (band_prune mode) ---------------------
    def _gen_path(self, g: int) -> str:
        return self._p("frontier_log", f"g{g}.parquet")

    def _unit_path(self, u: dict) -> str:
        return os.path.join(self._gen_path(u["gen"]), f"_band={u['band']}")

    def _write_generation(self, df: DataFrame, g: int) -> list[dict]:
        """Append ``df`` as immutable generation ``g`` (banded hive
        layout) and return its (gen, band, rows) units from the written
        footers.  ``repartitionByRange(band, url_hash)`` gives each
        write task a contiguous, row-balanced band range — file count
        stays O(write width + bands) and a fat band splits by hash
        range instead of becoming one straggler file.  The input is
        persisted across the write because repartitionByRange runs a
        range-sampling job first: without the cache the whole delta
        pipeline (anti-joins included) executes twice per round."""
        from pyspark.storagelevel import StorageLevel

        path = self._gen_path(g)
        banded = df.withColumn("_band", self._band_expr()).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        (
            banded.repartitionByRange(
                self._frontier_partitions(), F.col("_band"), F.col("url_hash")
            )
            .write.mode("overwrite")
            .partitionBy("_band")
            .parquet(path)
        )
        banded.unpersist()
        return [
            {"gen": g, "band": b["band"], "rows": b["rows"]}
            for b in self._frontier_bands(path)
        ]

    def _flog_bootstrap(self, manifest: dict | None, next_round: int) -> dict:
        """Log state for a (possibly fresh) process: the committed
        manifest's state when one exists; otherwise generation 0 on
        disk (init_state ran but no round committed); otherwise a
        one-time migration of a legacy per-round frontier snapshot
        into generation 0."""
        if manifest is not None and "frontier_log" in manifest:
            st = manifest["frontier_log"]
            # measured-cut state rides the manifest so a resumed
            # process prunes with the same policy an uninterrupted run
            # would have used
            if st.get("band_used_rows") is not None:
                self._band_used_rows = st["band_used_rows"]
            if st.get("band_safety") is not None:
                self._band_safety = st["band_safety"]
            live = [dict(u) for u in st["live"]]
            # a crash between a commit and its GC (or inside an
            # uncommitted round) leaves unit dirs no manifest lists
            self._gc_frontier(live)
            return {"next_gen": st["next_gen"], "live": live}
        if manifest is None and os.path.isdir(self._gen_path(0)):
            return {
                "next_gen": 1,
                "live": [
                    {"gen": 0, "band": b["band"], "rows": b["rows"]}
                    for b in self._frontier_bands(self._gen_path(0))
                ],
            }
        legacy = self._p("frontier", f"r{next_round}.parquet")
        if os.path.isdir(legacy):
            df = self.spark.read.parquet(legacy)
            if "_band" in df.columns:
                df = df.drop("_band")
            return {"next_gen": 1, "live": self._write_generation(df, 0)}
        return {"next_gen": 1, "live": []}

    def _split_frontier_log(
        self, prev_fetched: int
    ) -> tuple[list[dict], list[dict], dict | None]:
        """(read_units, unread_units, prune_info).  The cut keeps the
        lowest bands — across ALL live generations, at a band boundary
        so the strict-ordering exactness argument holds — whose
        cumulative rows reach ``band_margin ×`` the previous round's
        fetch count; no estimate (round 0 / zero-fetch round) reads
        everything."""
        units = sorted(self._flog["live"], key=lambda u: (u["band"], u["gen"]))
        bands = sorted({u["band"] for u in units})
        if prev_fetched > 0 and len(bands) > 1:
            if self._band_used_rows is not None:
                # measured cut: band_safety × the live rows at or below
                # the deepest band the previous round actually fetched
                # from, floored at 2× the fetch count so a degenerate
                # measurement can never starve the round
                need = max(
                    self._band_safety * self._band_used_rows,
                    2 * prev_fetched,
                )
            else:
                need = self._band_margin_eff * prev_fetched
            rows_by_band: dict[int, int] = {}
            for u in units:
                rows_by_band[u["band"]] = rows_by_band.get(u["band"], 0) + u["rows"]
            cum, cut_band = 0, bands[-1]
            for b in bands:
                cum += rows_by_band[b]
                if cum >= need:
                    cut_band = b
                    break
            if cut_band < bands[-1]:
                read = [u for u in units if u["band"] <= cut_band]
                unread = [u for u in units if u["band"] > cut_band]
                info = {
                    "bands_read": sum(1 for b in bands if b <= cut_band),
                    "bands_total": len(bands),
                    "rows_read": sum(u["rows"] for u in read),
                    "rows_passthrough": sum(u["rows"] for u in unread),
                    "generations": len({u["gen"] for u in units}),
                    "cut_policy": (
                        "measured"
                        if self._band_used_rows is not None
                        else "margin"
                    ),
                    "rows_target": int(need),
                }
                return read, unread, info
        return units, [], None

    def _band_used(self, r: int) -> int | None:
        """Deepest band any fetch of round ``r`` actually came from —
        driver-side pyarrow read of the snapshot's (priority, url_hash)
        columns (a few MB; the driver already opens these footers for
        the manifest counts), band computed with the same formula as
        ``_band_expr``."""
        import numpy as np
        import pyarrow.parquet as pq

        path = self._p("fetch", f"r{r}.parquet")
        if not os.path.isdir(path) or not any(
            n.startswith("part-") for n in os.listdir(path)
        ):
            return None
        # one threaded dataset read, not a per-file loop (serial driver
        # time — see _bloom_fold_local)
        t = pq.read_table(path, columns=["priority", "url_hash"])
        pr = t.column("priority").to_numpy(zero_copy_only=False)
        if not len(pr):
            return None
        band = np.floor(pr).astype(np.int64)
        if not self.inlink_weight:
            uh = t.column("url_hash").to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            band = band * self.BAND_HASH_BUCKETS + ((uh >> 58) + 32)
        return int(band.max())

    def _measure_cut(self, r: int) -> int | None:
        """Update the measured-cut state from round ``r``'s written
        snapshot: rows of the (post-round) live set at or below the
        deepest fetched band.  That prefix is what the round PROVABLY
        needed (every fetch came from it; unread bands sit strictly
        above it); the next round reads band_safety × it."""
        used = self._band_used(r)
        if used is None:
            self._band_used_rows = None
            return None
        self._band_used_rows = sum(
            u["rows"] for u in self._flog["live"] if u["band"] <= used
        )
        return used

    def _compact_frontier(self) -> None:
        """Fold every live unit into ONE fresh generation.  The new
        generation id comes from the same monotone counter as round
        deltas, so a crash mid-compaction leaves only an unreferenced
        dir that a later write of the same id deterministically
        overwrites (or the resume's GC deletes)."""
        g = self._flog["next_gen"]
        units = self._write_generation(self._read_units(self._flog["live"]), g)
        self._flog = {"next_gen": g + 1, "live": units}

    def _read_units(self, units: list[dict]) -> DataFrame:
        return self.spark.read.parquet(*[self._unit_path(u) for u in units])

    def _gc_frontier(self, live: list[dict]) -> None:
        """Delete every unit dir under frontier_log/ that ``live`` does
        not list, and every generation dir with no live unit.  Runs
        AFTER a round's manifest commit (an uncommitted round must be
        redoable from the prior live set) and on resume."""
        import shutil

        root = self._p("frontier_log")
        if not os.path.isdir(root):
            return
        keep = {(u["gen"], u["band"]) for u in live}
        live_gens = {g for g, _ in keep}
        for gname in os.listdir(root):
            if not (gname.startswith("g") and gname.endswith(".parquet")):
                continue
            g = int(gname[1 : -len(".parquet")])
            gdir = os.path.join(root, gname)
            if g not in live_gens:
                shutil.rmtree(gdir, ignore_errors=True)
                continue
            for name in os.listdir(gdir):
                if name.startswith("_band=") and (g, int(name[6:])) not in keep:
                    shutil.rmtree(os.path.join(gdir, name), ignore_errors=True)

    def _prune_fell_short(self, r: int, robots: DataFrame, passthrough) -> bool:
        """True iff some host with unread frontier rows did NOT fill its
        politeness budget from the read bands — the one case where
        pruning could have changed the selection (unread rows are
        strictly worse-priority, so a filled host's picks are exact)."""
        from ..operators.frontier import host_budget_col

        snap_hosts = (
            self.spark.read.parquet(self._p("fetch", f"r{r}.parquet"))
            .groupBy("host")
            .agg(F.count("*").alias("_n"))
        )
        short = (
            passthrough.select("host")
            .distinct()
            .join(snap_hosts, "host", "left")
            .join(robots.select("host", "crawl_delay_ms"), "host", "left")
            # the SAME budget expression run_round gates slots with —
            # shared helper so the two sides cannot drift (r4 ADVICE)
            .withColumn("_budget", host_budget_col(self.budget_ms))
            .filter(F.coalesce(F.col("_n"), F.lit(0)) < F.col("_budget"))
        )
        return bool(short.limit(1).count())

    def last_committed_round(self) -> int:
        """-1 if no round has committed yet."""
        mdir = self._p("manifests")
        if not os.path.isdir(mdir):
            return -1
        rounds = [
            int(f[1:-5]) for f in os.listdir(mdir) if f.startswith("r") and f.endswith(".json")
        ]
        return max(rounds, default=-1)

    def _paths(
        self, sub: str, upto_round: int | None = None, after_round: int = -1
    ) -> list[str]:
        last = self.last_committed_round() if upto_round is None else upto_round
        return [
            self._p(sub, f"r{i}.parquet")
            for i in range(after_round + 1, last + 1)
            if os.path.isdir(self._p(sub, f"r{i}.parquet"))
        ]

    # ---- seen-set compaction -------------------------------------------
    # Without compaction, seen_df unions one delta per round — at
    # hundreds of rounds that is O(rounds) file listings per round and
    # O(rounds²) over the crawl (the Iceberg analog is snapshot/manifest
    # compaction).  Every ``compact_every`` rounds the union is
    # rewritten as ONE base snapshot; seen_df then reads base + the
    # few deltas since.  The compact write goes to a temp dir and is
    # os.rename'd — atomic, so a crash mid-compaction leaves only a
    # stale tmp dir that the next attempt overwrites.

    def latest_compact_round(self, upto: int) -> int | None:
        d = self._p("seen_compact")
        if not os.path.isdir(d):
            return None
        rounds = [
            int(f[1 : -len(".parquet")])
            for f in os.listdir(d)
            if f.startswith("r") and f.endswith(".parquet")
        ]
        rounds = [r for r in rounds if r <= upto]
        return max(rounds, default=None)

    def _compact_seen(self, r: int) -> None:
        import shutil

        d = self._p("seen_compact")
        # clear stale tmp dirs from crashed compactions (each attempt
        # uses its own round number, so they never self-heal) and any
        # pre-existing final dir (os.rename onto a non-empty dir fails)
        if os.path.isdir(d):
            for f in os.listdir(d):
                if f.endswith(".tmp") or f == f"r{r}.parquet":
                    shutil.rmtree(os.path.join(d, f), ignore_errors=True)
        tmp = self._p("seen_compact", f"r{r}.parquet.tmp")
        final = self._p("seen_compact", f"r{r}.parquet")
        self.seen_df(r).write.mode("overwrite").parquet(tmp)
        os.rename(tmp, final)

    def _seen_sources(
        self, upto_round: int
    ) -> tuple[str | None, list[str], list[str]]:
        """Where seen_df(upto_round) reads from: the latest compacted
        base (None before the first compaction), then the fetch and
        blocked deltas committed since it."""
        base_round = self.latest_compact_round(upto_round)
        if base_round is None:
            base, after = None, -1
        else:
            base = self._p("seen_compact", f"r{base_round}.parquet")
            after = base_round
        return (
            base,
            self._paths("fetch", upto_round, after_round=after),
            self._paths("blocked", upto_round, after_round=after),
        )

    def seen_df(self, upto_round: int) -> DataFrame:
        """Seen set = fetched ∪ robots-blocked over committed rounds —
        a compacted base snapshot (if one exists) plus the per-round
        delta projections since it (parquet reads only
        url_hash/url/round thanks to column pruning)."""
        base, fetch_paths, blocked_paths = self._seen_sources(upto_round)
        parts = [self.spark.read.parquet(base)] if base else []
        if fetch_paths:
            snap = self.spark.read.parquet(*fetch_paths)
            if "ok" in snap.columns:
                # only RESOLVED rows are seen: a pending retry must stay
                # schedulable (frontier.resolved_filter; constant-true
                # when the failure model is off)
                snap = snap.filter(resolved_filter(self.max_attempts))
            parts.append(
                snap.select(
                    "url_hash",
                    F.col("doc_id").alias("url"),
                    F.col("round").alias("first_round"),
                )
            )
        if blocked_paths:
            parts.append(self.spark.read.parquet(*blocked_paths))
        if not parts:
            return self.spark.createDataFrame([], schemas.SEEN)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def fetch_log_df(self) -> DataFrame:
        """Every ATTEMPT, ok or not — this is the log."""
        paths = self._paths("fetch")
        df = self.spark.read.parquet(*paths)
        return df.select(
            "round",
            "slot",
            "host",
            F.col("doc_id").alias("url"),
            "url_hash",
            "priority",
            "depth",
            "attempt",
            "ok",
        )

    def documents_df(self) -> DataFrame:
        """Only ok rows: a failed attempt yields no page (its snapshot
        row has blank spans)."""
        paths = self._paths("fetch")
        snap = self.spark.read.parquet(*paths)
        if "ok" in snap.columns:
            snap = snap.filter(F.col("ok"))
        return snap.select("doc_id", "spans", "round")

    def raw_html_df(self) -> DataFrame:
        """S6 dump table: page source re-rendered from the persisted
        span sequence (extract_htmls.py:43-87 analog; derived, so the
        hot fetch path never writes a second big string column)."""
        from ..operators.htmldump import raw_html_view

        return raw_html_view(self.documents_df())

    def export_warc(self, path: str) -> None:
        """WARC/1.1 export of every crawled page: url = doc_id,
        payload = the S6 re-rendered page source, records rendered
        row-locally (`operators/webarchive.warc_record_col`) and
        written as parquet shards partitioned by crawl round — the
        archive-ecosystem hand-off format (Common Crawl ships WARC),
        round-trip-verified by `webarchive.warc_parse_cols` in
        tests/test_webarchive.py."""
        from ..operators.webarchive import warc_record_col

        self.raw_html_df().selectExpr(
            "round",
            f"{warc_record_col('doc_id', 'raw_html')} AS rec",
        ).write.mode("overwrite").partitionBy("round").parquet(path)

    # ---- bloom maintenance ---------------------------------------------
    def _bloom_fold_local(self, dirs: list[str], bloom) -> int:
        """Fold the url_hash column of every part file under ``dirs``
        into ``bloom`` driver-side; returns rows folded.

        The column streams in pyarrow record batches (read on pyarrow's
        thread pool — a per-file read_table loop cost ~1.2 s of serial
        driver time per round at 64-file snapshots), and each batch is
        OR'd in by its own ``bloom.add``: an add costs O(batch), not
        O(bitmap), so driver memory stays one batch at any seen size."""
        import pyarrow.dataset as ds

        rows = 0
        for path in dirs:
            if not os.path.isdir(path) or not any(
                n.startswith("part-") for n in os.listdir(path)
            ):
                continue
            for batch in ds.dataset(path, format="parquet").to_batches(
                columns=["url_hash"]
            ):
                bloom.add(batch.column(0).to_numpy(zero_copy_only=False))
                rows += batch.num_rows
        return rows

    def _seen_dirs(self, upto_round: int) -> list[str]:
        """The parquet dirs whose union is seen_df(upto_round)."""
        base, fetch_paths, blocked_paths = self._seen_sources(upto_round)
        return ([base] if base else []) + fetch_paths + blocked_paths

    def _bloom_rebuild(self, upto_round: int, seen_rows: int) -> None:
        from ..functions.bloom import BloomFilter

        self._bloom_cap = max(4096, 4 * seen_rows)
        bloom = BloomFilter.empty(self._bloom_cap)
        rows = self._bloom_fold_local(self._seen_dirs(upto_round), bloom)
        self._bloom = bloom if rows else None

    def _absorb_async(self, r: int, seen_rows: int) -> None:
        """Run the bloom absorb on a worker thread: the updated filter
        is not needed until the NEXT round's plan, and the fold is
        ~1.3 s of single-threaded pyarrow+numpy (GIL-releasing) that
        otherwise idles every other core — a fixed per-round cost that
        was measured diluting the big scaling legs disproportionately
        (busy fraction 0.13 at 8 cores).  The absorb overlaps the
        manifest commit and the next round's frontier read + plan
        construction; ``_absorb_join`` (next round, before planning)
        surfaces any exception.  Crash semantics are unchanged: the
        bloom is in-memory only and a resume rebuilds it from
        committed state."""
        import threading

        self._absorb_err: BaseException | None = None

        def work() -> None:
            try:
                self._bloom_absorb(r, seen_rows)
            except BaseException as exc:  # surfaced at join
                self._absorb_err = exc

        t = threading.Thread(target=work, daemon=True)
        t.start()
        self._absorb_thread = t

    def _absorb_join(self) -> None:
        t = getattr(self, "_absorb_thread", None)
        if t is not None:
            t.join()
            self._absorb_thread = None
            if self._absorb_err is not None:
                raise self._absorb_err

    def _bloom_absorb(self, r: int, seen_rows: int) -> None:
        """OR round r's delta (its fetch + blocked ``url_hash`` columns,
        not the whole seen set) into the incremental filter — O(delta)
        per round, since each ``add`` touches one word per key; rebuild
        when the seen count exceeds the bitmap's design capacity.  The
        rebuild sizes at 4x the seen count, so rebuilds happen at 4x
        growth — amortized O(1) — and the filter never runs past the
        capacity its ``BITS_PER_KEY`` was measured at (fpp <= 1%)."""
        if not self.use_bloom:
            return
        if self._bloom is not None and seen_rows > self._bloom_cap:
            self._bloom = None
        if self._bloom is None:
            self._bloom_rebuild(r, seen_rows)
            return
        self._bloom_fold_local(
            [self._p("fetch", f"r{r}.parquet"), self._p("blocked", f"r{r}.parquet")],
            self._bloom,
        )

    # ---- the loop --------------------------------------------------------
    def run(self, max_rounds: int) -> list[dict]:
        """Run (or resume) the crawl; returns committed manifests.

        Each round: read the frontier, plan, write the snapshots
        (pruned rounds: check for a politeness shortfall and redo the
        round on the full frontier), write the next frontier, account,
        maintain, commit."""
        robots = self.spark.read.parquet(self._p("robots.parquet"))
        self._absorb_join()  # a prior run() on this instance may still absorb
        start_round, seen_rows, prev_fetched = self._resume()
        manifests: list[dict] = []
        for r in range(start_round, max_rounds):
            rd = self._read_frontier(r, prev_fetched)
            if rd is None:
                break
            # the previous round's async bloom absorb must land before
            # this round's plan probes the filter; normally it finished
            # long ago and this is a free join — residual wait is measured
            self._absorb_join()
            rd.mark("bloom_wait")
            rd.seen = self.seen_df(r - 1)
            self._plan(rd, robots, seen_rows)
            rd.mark("plan")
            self._write_snapshots(rd)
            if rd.passthrough is not None:
                self._settle_pruned(rd, robots, seen_rows)
            snap = self._write_next_frontier(rd, seen_rows)
            manifest = self._account(rd, snap)
            seen_rows += manifest["seen_delta"]
            manifest["seen_total"] = seen_rows
            self._maintain(rd, seen_rows)
            self._commit(rd, manifest)
            manifests.append(manifest)
            prev_fetched = manifest["fetched"]
            if manifest["next_frontier"] == 0:
                break
        # the final round's absorb tail runs to completion before run()
        # returns (outside any round's measured window — in a long
        # crawl it overlaps the next round's driver work every round,
        # which is exactly the steady-state the bench measures)
        self._absorb_join()
        return manifests

    def _resume(self) -> tuple[int, int, int]:
        """(first round to run, committed seen rows, last committed
        round's fetch count); restores the frontier log and rebuilds
        the bloom from the last committed manifest."""
        start_round = self.last_committed_round() + 1
        if start_round == 0:
            if self.band_prune and self._flog is None:
                # fresh process, init_state committed no round yet
                self._flog = self._flog_bootstrap(None, 0)
            return 0, 0, 0
        with open(_manifest_path(self.workdir, start_round - 1)) as f:
            m0 = json.load(f)
        if self.band_prune:
            self._flog = self._flog_bootstrap(m0, start_round)
        if self.use_bloom:
            self._bloom_rebuild(start_round - 1, m0["seen_total"])
        return start_round, m0["seen_total"], m0.get("fetched", 0)

    def _read_frontier(self, r: int, prev_fetched: int) -> _Round | None:
        """Round ``r``'s input, or None when the frontier is empty."""
        if self.band_prune:
            if not self._flog["live"]:
                return None
            read, unread, info = self._split_frontier_log(prev_fetched)
            return _Round(
                r,
                self._read_units(read),
                self._read_units(unread) if unread else None,
                read_units=read,
                unread_units=unread,
                prune_info=info,
            )
        fpath = self._p("frontier", f"r{r}.parquet")
        # emptiness from the footers: no Spark job
        if not sum(p["rows"] for p in _parquet_partition_rows(fpath)):
            return None
        return _Round(r, self.spark.read.parquet(fpath), None)

    def _plan(self, rd: _Round, robots: DataFrame, seen_rows: int) -> None:
        if rd.res is not None:
            # the shortfall redo: release the discarded plan's
            # persisted frames, which would otherwise stay cached for
            # the rest of the app
            rd.res.unpersist()
        rd.res = run_round(
            self.spark,
            rd.frontier,
            rd.seen,
            robots,
            round_no=rd.r,
            budget_ms=self.budget_ms,
            salt_buckets=self.salt_buckets,
            bloom=self._bloom,
            fetch_partitions=self.fetch_partitions,
            seen_rows=seen_rows,
            fail_mod=self.fail_mod,
            fail_attempts=self.fail_attempts,
        )

    def _write_snapshot(self, df: DataFrame, table: str, r: int) -> None:
        df.write.mode("overwrite").parquet(self._p(table, f"r{r}.parquet"))

    def _write_snapshots(self, rd: _Round) -> None:
        """ONE fetched-superset write runs the whole round pipeline;
        log/documents/seen views are projections of this snapshot.  A
        pruned round writes only it here: its blocked snapshot depends
        on the shortfall check (``_settle_pruned``)."""
        if rd.passthrough is not None:
            self._write_snapshot(rd.res.fetched, "fetch", rd.r)
            rd.mark("write_fetched")
            return
        # no shortfall check can redo this round, so the blocked
        # snapshot is final too — submit both write jobs from two
        # threads: the tiny blocked job's tasks fill cores the big
        # write's barrier tail leaves idle, removing ~0.5-1 s of serial
        # time per round (fixed cost, so it dilutes the BIG bench legs
        # disproportionately).  Both jobs share the persisted `gated`
        # frame; concurrent first-materialization of a cached partition
        # is BlockManager-locked (one computes, the other waits).  The
        # blocked write's time is part of the write_fetched phase.  The
        # pool threads inherit the caller's job tags and Spark local
        # properties (job group, description, scheduler pool), so both
        # write jobs are tagged like the rest of the round.
        write = inheritable_thread_target(self.spark)(self._write_snapshot)
        with ThreadPoolExecutor(2) as pool:
            futs = [
                pool.submit(write, rd.res.fetched, "fetch", rd.r),
                pool.submit(write, rd.res.blocked, "blocked", rd.r),
            ]
            for fut in futs:
                fut.result()
        rd.mark("write_fetched")

    def _settle_pruned(self, rd: _Round, robots: DataFrame, seen_rows: int) -> None:
        """Shortfall check of a pruned round, then its blocked write.
        A host with unread rows that did not fill its budget is the
        ONLY case pruning can change the selection: the round is redone
        exactly with the full frontier (deterministic overwrite; the
        manifest is not yet committed, so this is the same
        crash-consistency contract as a resume).  Expected to be rare:
        the estimate errs toward reading extra bands."""
        if self._prune_fell_short(rd.r, robots, rd.passthrough):
            rd.fallback = True
            self._band_margin_eff *= 4
            self._band_safety *= 4
            rd.read_units = rd.read_units + rd.unread_units
            rd.unread_units, rd.passthrough, rd.prune_info = [], None, None
            rd.frontier = self._read_units(rd.read_units)
            self._plan(rd, robots, seen_rows)
            self._write_snapshot(rd.res.fetched, "fetch", rd.r)
            rd.mark("prune_fallback_refetch")
        self._write_snapshot(rd.res.blocked, "blocked", rd.r)
        rd.mark("write_blocked")

    def _write_next_frontier(self, rd: _Round, seen_rows: int) -> DataFrame:
        """Write the next frontier; returns the round's fetch snapshot.

        The next frontier derives from the WRITTEN snapshot, not the
        in-round lineage: the python fetch provably runs once per round
        (in-memory cache reuse across separate write jobs is
        best-effort and was measured re-executing the fetch inside AQE
        broadcast builds), and a resume after this write recomputes the
        identical frontier."""
        r = rd.r
        snap = self.spark.read.parquet(self._p("fetch", f"r{r}.parquet"))
        snap_delta = snap.filter(resolved_filter(self.max_attempts)).select(
            "url_hash",
            F.col("doc_id").alias("url"),
            F.col("round").alias("first_round"),
        ).unionByName(
            self.spark.read.parquet(self._p("blocked", f"r{r}.parquet"))
        )
        retries = retry_rows(snap, r, self.max_attempts)
        next_delta = rd.res.deferred.unionByName(retries).unionByName(
            frontier_delta(
                snap, rd.seen, snap_delta, rd.res.deferred, round_no=r,
                retries=retries, inlink_weight=self.inlink_weight,
                seen_rows=seen_rows,
                # unread-unit rows are still scheduled: without this, a
                # page linking to one would duplicate it (the anti-join
                # is what makes "each URL lives in at most one live
                # unit" inductive)
                extra_known=(
                    rd.passthrough.select("url_hash", "url")
                    if rd.passthrough is not None
                    else None
                ),
            )
        )
        if self.band_prune:
            # append-only: ONLY the round's delta (deferred ∪ retries ∪
            # new links) is written, as a fresh generation; unread
            # units stay on disk UNTOUCHED — zero read/shuffle/write IO,
            # where a verbatim passthrough re-writes the whole frontier
            # every round (O(frontier), the dominant per-round term at
            # the 10^7-seed probe)
            new_units = self._write_generation(next_delta, self._flog["next_gen"])
            self._flog = {
                "next_gen": self._flog["next_gen"] + 1,
                "live": rd.unread_units + new_units,
            }
        else:
            # Balanced-files write: without the explicit url_hash
            # repartition, the union writes each branch's AQE-coalesced
            # partitions as-is and the (one-partition) deferred branch
            # lands as a single fat file — the NEXT round's frontier
            # scan then carries a straggler input split (measured: a
            # 13-task scan stage with a 10.7 s max task vs 1.0 s median
            # at local[4], ≈ half that leg's idle core-time).  One extra
            # shuffle of the narrow frontier delta is ~2 core-s; the
            # straggler it removes cost ~19.
            self._write_frontier(next_delta, r + 1)
        rd.mark("write_next_frontier")
        return snap

    def _account(self, rd: _Round, snap: DataFrame) -> dict:
        """The round's manifest counts.  Lineage and metrics come
        straight from the written snapshots' parquet footers
        (driver-side metadata reads, zero Spark jobs — the three count
        jobs this replaces were ~2-4 s of serial driver time per round,
        a direct scaling-efficiency loss at two measured cluster
        sizes)."""
        r = rd.r
        lineage = _parquet_partition_rows(self._p("fetch", f"r{r}.parquet"))
        fetched = sum(x["rows"] for x in lineage)
        blocked_rows = sum(
            x["rows"]
            for x in _parquet_partition_rows(self._p("blocked", f"r{r}.parquet"))
        )
        manifest = {
            "round": r,
            "fetched": fetched,
            "blocked": blocked_rows,
            "seen_delta": fetched + blocked_rows,
            "partition_lineage": lineage,
        }
        if self.fail_mod:
            # retry accounting needs a filtered scan (footers can't see
            # the ok column) — one tiny 2-bool-column agg job, run ONLY
            # when the failure model is on, so the benchmarked
            # failure-free path keeps its zero-job footer-only
            # accounting
            last = F.col("attempt") + 1 >= self.max_attempts
            row = snap.agg(
                F.sum(F.col("ok").cast("long")).alias("ok"),
                F.sum(((~F.col("ok")) & ~last).cast("long")).alias("retry"),
                F.sum(((~F.col("ok")) & last).cast("long")).alias("gaveup"),
            ).collect()[0]
            manifest.update(
                fetched_ok=int(row["ok"] or 0),
                retry_pending=int(row["retry"] or 0),
                gave_up=int(row["gaveup"] or 0),
            )
            manifest["seen_delta"] = (
                manifest["fetched_ok"] + manifest["gave_up"] + blocked_rows
            )
        if self.band_prune:
            # live rows are already known per unit from the generation
            # writes' footers — no extra walk
            manifest["next_frontier"] = sum(u["rows"] for u in self._flog["live"])
            # measured-cut update for the next round's read target
            # (driver-side column read of the snapshot just written)
            rd.band_used = self._measure_cut(r)
            if rd.prune_info is not None:
                # clean pruned round: decay the post-fallback safety
                # inflation geometrically back toward base — without
                # this the ×4 ratchet is permanent, and the 10M probe
                # showed a second fallback at margin 16 escalating to a
                # terminal read-everything regime (margin 64 > frontier,
                # write_fetched 50-73 s/round)
                self._band_safety = max(
                    self._band_safety_base, self._band_safety * 0.9
                )
        else:
            manifest["next_frontier"] = sum(
                x["rows"]
                for x in _parquet_partition_rows(
                    self._p("frontier", f"r{r + 1}.parquet")
                )
            )
        rd.mark("counts")
        return manifest

    def _maintain(self, rd: _Round, seen_rows: int) -> None:
        """Per-round state maintenance.  It runs INSIDE the measured
        round so manifest elapsed_sec (and thus every URLs/s figure the
        bench reports) is honest wall-clock, not pipeline-only.
        Committing the manifest after maintenance keeps resume
        semantics: on a crash mid-maintenance the round is simply
        redone (all snapshot writes are deterministic overwrites, the
        bloom is in-memory/rebuilt, and _compact_seen clears stale
        artifacts of an interrupted attempt)."""
        r = rd.r
        self._absorb_async(r, seen_rows)
        rd.mark("bloom_absorb_spawn")
        rd.res.unpersist()
        if self.compact_every:
            base = self.latest_compact_round(r)
            if r - (base if base is not None else -1) >= self.compact_every:
                self._compact_seen(r)
                rd.mark("compact_seen")
        if (
            self.band_prune
            and self.frontier_compact_gens
            and len({u["gen"] for u in self._flog["live"]})
            >= self.frontier_compact_gens
        ):
            # bound generation/file count: fold all live units into one
            # fresh generation (amortized O(frontier / N) per round;
            # marked as its own phase so probes can tell the periodic
            # fold from the O(delta) steady-state write)
            self._compact_frontier()
            rd.mark("frontier_compact")

    def _commit(self, rd: _Round, manifest: dict) -> None:
        """Atomic manifest rename, then (band_prune) GC of the unit
        dirs no committed state references any more."""
        elapsed = time.monotonic() - rd.t0
        manifest["elapsed_sec"] = round(elapsed, 3)
        manifest["urls_per_sec"] = (
            round(manifest["fetched"] / elapsed, 2) if elapsed > 0 else None
        )
        manifest["phase_sec"] = rd.phase_sec
        if self.band_prune:
            manifest["band_prune"] = rd.prune_info or {"pruned": False}
            manifest["prune_fallback"] = rd.fallback
            manifest["frontier_log"] = {
                "next_gen": self._flog["next_gen"],
                "live": self._flog["live"],
                "band_used": rd.band_used,
                "band_used_rows": self._band_used_rows,
                "band_safety": self._band_safety,
            }
        _write_manifest(self.workdir, rd.r, manifest)
        if self.band_prune:
            self._gc_frontier(self._flog["live"])
