"""Bloom prefilter for the URL-seen set.

North-rule component: "Bloom/cuckoo URL-seen set".  The Bloom filter is
a *prefilter only* — candidates it marks "maybe seen" are confirmed by
an exact anti-join against the seen-set table, so seen-set semantics
stay exact (false positives cost a join probe, never a dropped URL).
Candidates it marks "definitely new" skip the shuffle join entirely;
with a mostly-fresh frontier this removes the dominant shuffle.

Two filter types share one probe expression (``bloom_probe_col``):

* ``BloomFilter`` — one numpy bitmap on the driver, folded from the
  seen set's url_hash column (plans/crawler) and broadcast into the
  probe.  This is the filter the crawler runs.
* ``BloomDir`` — a hash-range-sharded filter that lives in parquet and
  is folded, absorbed, compacted and probed on the executors, for
  bitmap sets too big for one process (~12 GB at 10^10 URLs / 1% fpp).
  No crawler wires it in yet; scripts/probe_bloom_dir.py measures it.

``ShardedBloom`` is the pure-numpy sharded reference that BloomDir is
tested against (tests/test_bloom_dir.py).

Reference analog: in-memory ``VISITED`` list / ``set()``
(extract_product_urls.py:12,39-41,57) — O(n) driver memory, the exact
thing that cannot scale; this replaces it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Double-hash mixing uses ONLY shift/xor/mask (no 64-bit multiply):
# the same probe indices are computed by the numpy path below and by
# the JVM column expression in ``bloom_probe_col`` — bigint multiply
# would overflow-throw under ANSI SQL, shift/xor/and never do.  All
# intermediates stay < 2^61 so numpy-uint64 and JVM-signed-int64
# arithmetic agree bit-for-bit.
_MASK61 = np.uint64((1 << 61) - 1)
_MASK58 = np.uint64((1 << 58) - 1)
_MASK64 = np.uint64((1 << 64) - 1)


@dataclass
class BloomFilter:
    m_bits: int
    k: int
    words: np.ndarray  # uint64[m_bits/64]

    def _indices(self, hashes: np.ndarray) -> np.ndarray:
        """k probe positions per hash — double hashing, fully vectorized.

        Bit 63 is masked off FIRST, exactly as the JVM probe does
        (``hash & (2^63-1)`` in ``bloom_probe_col``): url_hash is
        contractually 63-bit, but the filters accept arbitrary hashes,
        and an unmasked top bit would leak into ``h1 >> 31`` and
        diverge the two engines' probe positions."""
        h1 = hashes.astype(np.uint64) & np.uint64((1 << 63) - 1)
        with np.errstate(over="ignore"):
            h1m = h1 & _MASK61
            h2 = ((h1 ^ (h1 >> np.uint64(31)) ^ ((h1 << np.uint64(17)) & _MASK64))
                  & _MASK58) | np.uint64(1)
            steps = np.arange(self.k, dtype=np.uint64)[:, None]
            return ((h1m[None, :] + steps * h2[None, :]) % np.uint64(self.m_bits))

    def add(self, hashes: np.ndarray) -> None:
        idx = self._indices(np.asarray(hashes, dtype=np.uint64)).ravel()
        # Boolean scatter + packbits instead of bitwise_or.at: .at is an
        # unbuffered read-modify-write ufunc (~10 M probes/s); a plain
        # fancy store into a bool bitmap + one packbits pass is ~10x
        # faster and bit-identical (duplicates just store True twice).
        # Gated on bitmap size: the bool temp costs m_bits BYTES, so
        # past 128 MB (cap ~10^9 bits) fall back to the in-place path.
        if self.m_bits <= (1 << 30) and idx.size >= 4096:
            bits = np.zeros(self.m_bits, dtype=bool)
            bits[idx.astype(np.int64)] = True
            self.words |= np.packbits(bits, bitorder="little").view(np.uint64)
        else:
            np.bitwise_or.at(
                self.words, (idx // 64).astype(np.int64), np.uint64(1) << (idx % 64)
            )

    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        idx = self._indices(np.asarray(hashes, dtype=np.uint64))
        bits = (self.words[(idx // 64).astype(np.int64)] >> (idx % 64)) & np.uint64(1)
        return bits.all(axis=0).astype(bool)

    def to_bytes(self) -> bytes:
        return self.words.tobytes()

    @classmethod
    def empty(cls, capacity: int, fpp: float = 0.01) -> "BloomFilter":
        capacity = max(capacity, 1024)
        m = int(-capacity * math.log(fpp) / (math.log(2) ** 2))
        m = ((m + 63) // 64) * 64
        k = max(1, round(m / capacity * math.log(2)))
        return cls(m, k, np.zeros(m // 64, dtype=np.uint64))

    @classmethod
    def from_bytes(cls, m_bits: int, k: int, raw: bytes) -> "BloomFilter":
        return cls(m_bits, k, np.frombuffer(raw, dtype=np.uint64).copy())


@dataclass
class ShardedBloom:
    """Hash-range-sharded Bloom filter in numpy: shard ``url_hash %
    n_shards`` owns its own independent bitmap, sized exactly as a
    ``BloomDir`` of the same (capacity, shards, fpp).  The pure-Python
    reference that tests compare ``BloomDir``'s executor-side build and
    probe against."""

    n_shards: int
    shards: list[BloomFilter]  # index = url_hash % n_shards

    @classmethod
    def from_hashes(
        cls, hashes: np.ndarray, capacity: int, n_shards: int, fpp: float = 0.01
    ) -> "ShardedBloom":
        hs = np.asarray(hashes).astype(np.uint64)
        shards = [
            BloomFilter.empty(-(-capacity // n_shards), fpp) for _ in range(n_shards)
        ]
        sid = _shard_ids(hs, n_shards)
        for s in np.unique(sid):
            shards[int(s)].add(hs[sid == s])
        return cls(n_shards, shards)

    @property
    def m_bits(self) -> int:
        return self.shards[0].m_bits

    @property
    def k(self) -> int:
        return self.shards[0].k

    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        """Route each hash to its shard, probe there — via
        `_shard_ids`, the same signed floor-mod the JVM ``pmod``
        computes, so a hash with the top bit set routes identically in
        both engines."""
        hs = np.asarray(hashes, dtype=np.uint64)
        out = np.zeros(len(hs), dtype=bool)
        sid = _shard_ids(hs, self.n_shards)
        for s in range(self.n_shards):
            m = sid == s
            if m.any():
                out[m] = self.shards[s].maybe_contains(hs[m])
        return out


def _shard_ids(hashes: np.ndarray, n_shards: int) -> np.ndarray:
    """Shard routing shared by build and probe: interpret the hash as
    SIGNED int64 and take numpy's floor-mod — bit-identical to the JVM
    probe's ``pmod(url_hash, n_shards)`` for every 64-bit pattern
    (uint64 modulo would route top-bit hashes to a different shard for
    non-power-of-two shard counts: Bloom false negatives)."""
    return np.asarray(hashes, dtype=np.uint64).view(np.int64) % np.int64(n_shards)


# ------------------------------------------------ parquet-backed filter
@dataclass
class BloomDir:
    """A sharded Bloom filter that LIVES IN PARQUET, never on the
    driver — the 10^10-URL regime (~12 GB of bitmap at 10 bits/URL,
    1% fpp), where the driver-side fold (plans/crawler) would hold the
    whole bitmap set in driver memory.

    Layout: ``path/`` is a parquet table ``(_bloom_shard int,
    _bloom_arr array<bigint>)`` — one row per shard after a build or a
    compaction, PLUS one delta row per shard per absorbed round in
    between (append mode; the probe ORs a shard's rows executor-side
    before probing, so absorb is O(delta) IO exactly like the
    log-structured frontier).  ``path/_bloom_meta.json`` carries
    (n_shards, m_bits, k).  The driver only ever touches row COUNTS
    and the meta file: bitmaps stay on executors end to end."""

    path: str
    n_shards: int
    m_bits: int
    k: int

    @classmethod
    def load(cls, path: str) -> "BloomDir":
        """Open the dir at ``path``.  If a compaction crashed between
        its two renames (``path`` moved to ``path.old``, the compacted
        dir not yet in place), the pre-compaction dir is restored."""
        import json
        import os

        old = path.rstrip("/") + ".old"
        if not os.path.isdir(path) and os.path.isdir(old):
            os.rename(old, path)
        with open(os.path.join(path, "_bloom_meta.json")) as f:
            meta = json.load(f)
        return cls(path, meta["n_shards"], meta["m_bits"], meta["k"])


#: words per stored bitmap row (2 MB).  A shard's bitmap is written as
#: ceil(words / chunk) CHUNK rows, not one giant array row: Spark's
#: vectorized parquet reader reserves each row's array contiguously,
#: and ~19 MB rows (a 4 GB / 256-shard geometry) were measured OOMing
#: the reader under 32 concurrent scan tasks.  Chunks bound every
#: reader allocation; `bloom_dir_df` reassembles full arrays per shard
#: executor-side before the probe join.
_BLOOM_CHUNK_WORDS = 1 << 18


def _shard_fold_kernel(m_bits: int, k: int, shards: int):
    """mapInPandas kernel: a (shard-routed) stream of url_hash batches
    → (shard, chunk, bitmap-chunk words) rows for the shards this task
    owns."""

    def fold(batches):
        bfs: dict[int, BloomFilter] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            hs = pdf["url_hash"].to_numpy(dtype=np.uint64)
            sid = _shard_ids(hs, shards)
            for s in np.unique(sid):
                bf = bfs.get(int(s))
                if bf is None:
                    bf = BloomFilter(
                        m_bits, k, np.zeros(m_bits // 64, dtype=np.uint64)
                    )
                    bfs[int(s)] = bf
                bf.add(hs[sid == s])
        if bfs:
            rows_s, rows_c, rows_a = [], [], []
            for s in sorted(bfs):
                words = bfs[s].words.view(np.int64)
                for c in range(0, len(words), _BLOOM_CHUNK_WORDS):
                    rows_s.append(s)
                    rows_c.append(c // _BLOOM_CHUNK_WORDS)
                    rows_a.append(words[c : c + _BLOOM_CHUNK_WORDS])
            yield pd.DataFrame(
                {
                    "_bloom_shard": rows_s,
                    "_bloom_chunk": rows_c,
                    "_bloom_arr": rows_a,
                }
            )

    return fold


def _write_shard_fold(hashes: DataFrame, bloom: BloomDir, mode: str) -> None:
    """Fold ``hashes.url_hash`` into per-shard bitmap chunk rows on the
    executors and write them under ``bloom.path``.  Hashes are
    repartitioned BY SHARD, so each shard's bitmap is folded whole by
    exactly one task, and each task WRITES its rows straight to parquet
    — the driver ships paths, never bytes."""
    shards = bloom.n_shards
    folded = (
        hashes.select("url_hash")
        .repartition(min(shards, 64), F.pmod(F.col("url_hash"), F.lit(shards)))
        .mapInPandas(
            _shard_fold_kernel(bloom.m_bits, bloom.k, shards),
            "_bloom_shard int, _bloom_chunk int, _bloom_arr array<bigint>",
        )
    )
    # hive layout by shard: the big-bitmap probe path routes frontier
    # rows to their shard and loads ONLY that shard's files — no task
    # ever touches another shard's bitmap (partitionBy here splits
    # files within each write task; the fold already routed rows, so
    # there is no extra shuffle)
    folded.write.mode(mode).partitionBy("_bloom_shard").parquet(bloom.path)


def build_bloom_dir(
    seen: DataFrame,
    capacity: int,
    path: str,
    *,
    fpp: float = 0.01,
    shards: int = 256,
) -> BloomDir:
    """Executor-side sharded build of a new dir at ``path``."""
    import json
    import os

    proto = BloomFilter.empty(-(-capacity // shards), fpp)
    bloom = BloomDir(path, shards, proto.m_bits, proto.k)
    _write_shard_fold(seen, bloom, "overwrite")
    with open(os.path.join(path, "_bloom_meta.json"), "w") as f:
        json.dump({"n_shards": shards, "m_bits": bloom.m_bits, "k": bloom.k}, f)
    return bloom


def absorb_bloom_dir(delta: DataFrame, bloom: BloomDir) -> None:
    """Absorb a delta frame into an existing dir as extra per-shard
    rows — O(delta) compute + O(touched shards) write; the probe ORs a
    shard's rows, and ``compact_bloom_dir`` folds them back to one."""
    _write_shard_fold(delta, bloom, "append")


def _shard_assemble_kernel(m_bits: int):
    """applyInPandas kernel: OR a shard's chunk rows (base + absorbed
    deltas) and concatenate them into the shard's full bitmap row."""

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(m_bits // 64, dtype=np.int64)
        for chunk, arr in zip(pdf["_bloom_chunk"], pdf["_bloom_arr"]):
            a = np.asarray(arr, dtype=np.int64)
            off = int(chunk) * _BLOOM_CHUNK_WORDS
            np.bitwise_or(acc[off : off + len(a)], a, out=acc[off : off + len(a)])
        return pd.DataFrame(
            {"_bloom_shard": pdf["_bloom_shard"].iloc[:1], "_bloom_arr": [acc]}
        )

    return assemble


def _shard_dirs(path: str) -> list[tuple[int, str]]:
    import os

    out = []
    for name in os.listdir(path):
        if name.startswith("_bloom_shard="):
            out.append((int(name.split("=")[1]), os.path.join(path, name)))
    return sorted(out)


def _load_shard_words(shard_dir: str, m_bits: int) -> np.ndarray:
    """Assemble one shard's full bitmap from its chunk files (base +
    absorbed delta rows OR'd, chunks concatenated by offset) — pure
    pyarrow+numpy, executor-side."""
    import os

    import pyarrow.parquet as pq

    acc = np.zeros(m_bits // 64, dtype=np.int64)
    for f in sorted(os.listdir(shard_dir)):
        if not f.startswith("part-"):
            continue
        t = pq.read_table(os.path.join(shard_dir, f))
        chunks = t.column("_bloom_chunk").to_pylist()
        arrs = t.column("_bloom_arr").to_pylist()
        for c, arr in zip(chunks, arrs):
            a = np.asarray(arr, dtype=np.int64)
            off = int(c) * _BLOOM_CHUNK_WORDS
            np.bitwise_or(acc[off : off + len(a)], a, out=acc[off : off + len(a)])
    return acc


def _chunk_rows_df(spark: SparkSession, bloom: BloomDir) -> DataFrame:
    """Chunk rows read by PYARROW inside mapInPandas (one task per
    shard dir), not by Spark's vectorized parquet reader: that reader
    buffers a row group's worth of array values contiguously per
    batch, and at multi-GB bitmap geometries 32 concurrent scan tasks
    × tens of MB of reserve each were measured OOMing the heap.
    Arrow streams the list column without that reserve, and the rows
    never leave the executors either way."""

    def read_dirs(batches):
        import os

        import pyarrow.parquet as pq

        for pdf in batches:
            for s, d in zip(pdf["shard"], pdf["dir"]):
                for f in sorted(os.listdir(d)):
                    if not f.startswith("part-"):
                        continue
                    t = pq.read_table(os.path.join(d, f))
                    pd_t = t.to_pandas()
                    pd_t.insert(0, "_bloom_shard", int(s))
                    # small slices bound the Arrow transfer batches
                    for off in range(0, len(pd_t), 8):
                        yield pd_t.iloc[off : off + 8]

    dirs = _shard_dirs(bloom.path)
    paths = spark.createDataFrame(dirs, "shard int, dir string")
    return paths.repartition(max(1, len(dirs))).mapInPandas(
        read_dirs, "_bloom_shard int, _bloom_chunk int, _bloom_arr array<bigint>"
    )


def bloom_dir_df(spark: SparkSession, bloom: BloomDir) -> DataFrame:
    """One (shard, full bitmap) row per shard, chunk/delta rows
    OR-assembled executor-side — the probe-ready view of the dir."""
    return _chunk_rows_df(spark, bloom).groupBy("_bloom_shard").applyInPandas(
        _shard_assemble_kernel(bloom.m_bits),
        "_bloom_shard int, _bloom_arr array<bigint>",
    )


def _shard_compact_kernel():
    """applyInPandas kernel: OR the duplicate rows of one (shard,
    chunk) group into a single chunk row (sizes within a group are
    equal by construction)."""

    def orfold(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for arr in pdf["_bloom_arr"]:
            a = np.asarray(arr, dtype=np.int64)
            acc = a.copy() if acc is None else np.bitwise_or(acc, a, out=acc)
        return pd.DataFrame(
            {
                "_bloom_shard": pdf["_bloom_shard"].iloc[:1],
                "_bloom_chunk": pdf["_bloom_chunk"].iloc[:1],
                "_bloom_arr": [acc],
            }
        )

    return orfold


def compact_bloom_dir(spark: SparkSession, bloom: BloomDir) -> None:
    """Fold every (shard, chunk)'s base + delta rows back to one row —
    the periodic compaction that keeps probe-time OR work bounded
    (same discipline as the seen-set and frontier logs).  Written to a
    tmp dir, then swapped in by two renames; a crash between them is
    repaired by ``BloomDir.load``."""
    import os
    import shutil

    tmp = bloom.path.rstrip("/") + ".compact.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        _chunk_rows_df(spark, bloom)
        .groupBy("_bloom_shard", "_bloom_chunk")
        .applyInPandas(
            _shard_compact_kernel(),
            "_bloom_shard int, _bloom_chunk int, _bloom_arr array<bigint>",
        )
        .write.mode("overwrite")
        .partitionBy("_bloom_shard")
        .parquet(tmp)
    )
    shutil.copy(
        os.path.join(bloom.path, "_bloom_meta.json"),
        os.path.join(tmp, "_bloom_meta.json"),
    )
    old = bloom.path.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(bloom.path, old)
    os.rename(tmp, bloom.path)
    shutil.rmtree(old, ignore_errors=True)


#: past this many bitmap bytes the probe join stops broadcasting and
#: shuffles frontier rows to their shard's bitmap instead (each
#: executor then holds only its shards — the 10^10 regime)
BLOOM_BROADCAST_MAX_BYTES = 64 * 1024 * 1024


def bitmap_df(spark: SparkSession, bloom: BloomFilter) -> DataFrame:
    """The bitmap as a ONE-ROW DataFrame ``(_bloom_arr array<bigint>)``.

    The words ship driver→JVM as a tiny parquet file written with
    pyarrow and read back by Spark — one mmap'd columnar batch.  (Two
    earlier versions were measured pathological: raw bytes unpacked
    with ``transform(...substring(raw, ...))`` re-copies the ENTIRE
    blob per element on UnsafeRows — O(n_words × blob_size) ≈ 50 GB of
    memcpy at a 230 KB bitmap; and createDataFrame's pickle path costs
    4-9 s of serial driver time per round at a 3 MB bitmap, which at
    two measured cluster sizes shows up directly as lost scaling
    efficiency.)

    The bitmap must reach the probe as a broadcast-joined COLUMN, not
    as a scalar subquery / literal: a folded literal array inlines
    into the generated Java k times and Janino compile time explodes.
    As a join-side attribute the generated code is a bound reference —
    constant-size — and the array lives once in the broadcast, never
    copied per row."""
    words = np.asarray(bloom.words, dtype=np.uint64).view(np.int64)
    import pyarrow as pa

    arr = pa.array([words], type=pa.list_(pa.int64()))
    table = pa.Table.from_arrays([arr], names=["_bloom_arr"])
    return _ship_table(spark, table, "_bloom_arr array<bigint>", owner=bloom)


#: process-lifetime staging dir for bitmap ships — created lazily,
#: removed at interpreter exit.  Staged files are retained PER BLOOM
#: OBJECT: each owner keeps its 2 most recent ships (the previous
#: round's bitmap may still be lazily referenced until its round
#: commits — the crawler re-ships the same mutated object every
#: round), and a ``weakref.finalize`` removes the owner's remaining
#: files when the object is collected.  Scoping retention to the
#: owner means two Crawler instances interleaving ships in one process
#: can never delete each other's still-referenced files (the old
#: process-global keep-2 could).
#: Contract: a bitmap DataFrame is re-materializable only while its
#: bloom object is alive and within 2 ships of it.
#: ``SPARK_GRAFT_BLOOM_STAGE_DIR`` overrides the location for real
#: clusters, where the stage dir must live on a filesystem the
#: executors can read (HDFS/NFS/object-store mount) — a driver-local
#: /tmp path only works in local mode.
_STAGE_DIR: list[str | None] = [None]
_STAGE_SEQ: list[int] = [0]


def _remove_paths(paths: list) -> None:
    import os

    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass


def _ship_table(spark: SparkSession, table, schema: str, owner) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile
    import weakref

    import pyarrow.parquet as pq

    if _STAGE_DIR[0] is None:
        env = os.environ.get("SPARK_GRAFT_BLOOM_STAGE_DIR")
        if env:
            os.makedirs(env, exist_ok=True)
            _STAGE_DIR[0] = env
        else:
            _STAGE_DIR[0] = tempfile.mkdtemp(prefix="bloom_stage_")
            atexit.register(shutil.rmtree, _STAGE_DIR[0], ignore_errors=True)
    _STAGE_SEQ[0] += 1
    path = os.path.join(
        _STAGE_DIR[0], f"bloom_{id(owner):x}_{_STAGE_SEQ[0]:08d}.parquet"
    )
    pq.write_table(table, path, compression="snappy")
    paths = getattr(owner, "_stage_paths", None)
    if paths is None:
        paths = []
        owner._stage_paths = paths
        # the finalizer captures the list, not the owner — no ref cycle
        weakref.finalize(owner, _remove_paths, paths)
    paths.append(path)
    _remove_paths([paths.pop(0) for _ in range(max(0, len(paths) - 2))])
    return spark.read.schema(schema).parquet(path)


def _bloom_dir_probe_map(df: DataFrame, bloom: BloomDir, col: str) -> DataFrame:
    """Map-side BloomDir probe for bitmap sets too big to broadcast:
    repartition rows by shard, load each owned shard's bitmap once per
    task (pyarrow), probe with the vectorized numpy path, and append
    ``_maybe_seen``.  Missing shard dir = definitely-new (False)."""
    import os

    from pyspark.sql import types as T

    n_shards, m_bits, k, path = bloom.n_shards, bloom.m_bits, bloom.k, bloom.path
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("_maybe_seen", T.BooleanType())]
    )

    def probe(batches):
        cache: dict[int, BloomFilter | None] = {}
        for pdf in batches:
            hs = pdf[col].to_numpy(dtype=np.uint64)
            flags = np.zeros(len(hs), dtype=bool)
            sid = _shard_ids(hs, n_shards)
            for s in np.unique(sid):
                s = int(s)
                if s not in cache:
                    d = os.path.join(path, f"_bloom_shard={s}")
                    cache[s] = (
                        BloomFilter(m_bits, k, _load_shard_words(d, m_bits).view(np.uint64))
                        if os.path.isdir(d)
                        else None
                    )
                bf = cache[s]
                if bf is not None:
                    m = sid == s
                    flags[m] = bf.maybe_contains(hs[m])
            out = pdf.copy()
            out["_maybe_seen"] = flags
            yield out

    width = max(
        df.sparkSession.sparkContext.defaultParallelism,
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    return df.repartition(width, F.pmod(F.col(col), F.lit(n_shards))).mapInPandas(
        probe, out_schema
    )


def bloom_probe_col(arr_sql: str, m_bits: int, k: int, hash_sql: str) -> "F.Column":
    """JVM-side Bloom probe over an ``array<bigint>`` bitmap column:
    k shift/xor/mask probes + element_at/getbit — whole-stage-
    codegen'd, no Python in the filter path.  The arithmetic mirrors
    ``BloomFilter._indices`` bit-for-bit (see the mixing note above).

    Takes SQL fragments (column names / expressions), not Columns, and
    parses the whole k-probe predicate as ONE expression: the previous
    Column-API composition cost ~140 ms of py4j round trips per round
    plan — pure serial driver time at every cluster size.  The parsed
    tree and generated code are identical either way (equality-tested
    against the numpy probe in tests/test_bloom_jvm.py)."""
    h1 = f"({hash_sql} & {(1 << 63) - 1})"
    h1m = f"({h1} & {(1 << 61) - 1})"
    h2 = (
        f"((({h1} ^ shiftright({h1}, 31) ^ shiftleft({h1}, 17)) "
        f"& {(1 << 58) - 1}) | 1)"
    )
    probes = []
    for i in range(k):
        idx = f"pmod({h1m} + {i} * {h2}, {m_bits}L)"
        word = f"element_at({arr_sql}, cast(shiftright({idx}, 6) + 1 as int))"
        probes.append(f"(getbit({word}, cast(pmod({idx}, 64) as int)) = 1)")
    return F.expr("(" + " AND ".join(probes) + ")")


def with_bloom_flag(
    spark: SparkSession,
    df: DataFrame,
    bloom: "BloomFilter | BloomDir | None",
    col: str = "url_hash",
) -> DataFrame:
    """Add ``_maybe_seen`` boolean via the JVM bitmap probe.

    The bitmap rides in as a broadcast join (see ``bitmap_df`` for why
    not a subquery/literal); the helper columns are dropped immediately
    so nothing downstream caches or shuffles the array.  A ``BloomDir``
    broadcast-equi-joins each row to its hash-range shard while its
    bitmaps are small, and is probed map-side past that."""
    if bloom is None:
        return df.withColumn("_maybe_seen", F.lit(False))
    if isinstance(bloom, BloomDir):
        total_bytes = bloom.n_shards * (bloom.m_bits // 8)
        if total_bytes <= BLOOM_BROADCAST_MAX_BYTES:
            probed = df.join(
                F.broadcast(bloom_dir_df(spark, bloom)),
                F.pmod(F.col(col), F.lit(bloom.n_shards))
                == F.col("_bloom_shard"),
                "left",
            )
            return probed.withColumn(
                "_maybe_seen",
                # a shard with no rows yet has no bitmap row — its
                # hashes are definitely-new, not NULL (a NULL would
                # silently drop the row from BOTH sides of the
                # downstream candidate split)
                F.coalesce(
                    bloom_probe_col("_bloom_arr", bloom.m_bits, bloom.k, col),
                    F.lit(False),
                ),
            ).drop("_bloom_arr", "_bloom_shard")
        # 10^10 regime: the bitmap set is GBs — neither broadcastable
        # nor a viable (non-spillable) hash-join build side.  Instead
        # frontier rows are routed BY SHARD and a numpy kernel probes
        # them against just the shards its partition owns, loaded
        # straight from the shard's parquet dir (per-task bitmap
        # memory = total / width, bounded by construction; the numpy
        # probe is equality-tested against the JVM expression in
        # tests/test_bloom_jvm.py).
        return _bloom_dir_probe_map(df, bloom, col)
    probed = df.join(F.broadcast(bitmap_df(spark, bloom)))
    return probed.withColumn(
        "_maybe_seen",
        bloom_probe_col("_bloom_arr", bloom.m_bits, bloom.k, col),
    ).drop("_bloom_arr")
