"""Partitioned URL-seen set: bloom-filter pre-filter + exact anti-join,
with a cuckoo-filter fallback where deletions are needed (north rule).

Design for 10^10 URLs (SURVEY.md §4.3):

- The bitset is **partitioned by hash range**: ``part_id = pmod(xxhash64(url),
  n_parts)``. Each partition owns an independent bloom filter over only its
  keys, stored as one row whose ``words`` column is the bitset as
  ``array<bigint>``: bit ``idx`` lives in word ``idx >> 6`` at in-word
  position ``idx & 63``. At 1% fpp, 10^10 keys need ~12 GB of bitset
  total — partitioned over e.g. 4096 parts that is ~3 MB per task.
- Membership math is double hashing (Kirsch-Mitzenmacher): bit index
  ``(h1 + i*h2) mod m`` for i in 0..k-1. The build vectorizes it in numpy
  over each Arrow batch; the probe (:func:`probe_bloom`) evaluates it as
  whole-stage-codegen integer arithmetic in the join projection, so no
  candidate row crosses the Python boundary. The words side is
  broadcast-joined (shuffle-free, fused with the upstream map stage) for
  filter sets within ``BROADCAST_MAX_BYTES`` and shuffle-hash-joined on
  ``part_id`` beyond it, where each task holds only its hash-range slices.
  ``m`` is a power of two so the uint64 modulo is exact in signed JVM
  arithmetic.
- The bloom answer is only "definitely new" vs "maybe seen". Rows flagged
  maybe-seen go through an **exact** ``left_anti`` join against the seen-URL
  table; definitely-new rows skip that shuffle entirely. On a real crawl
  the overwhelming majority of candidate URLs are re-discoveries of seen
  URLs or brand-new — the bloom collapses the anti-join's probe side to the
  (small) maybe set, which is what makes the 10^10-row anti-join cheap.
- Deletions (e.g. recrawl-after-TTL) can't come out of a bloom filter; the
  :class:`CuckooFilter` variant supports ``delete`` and serializes to one
  ``binary`` row per partition.

The reference has no URL-seen set at all (it re-reads whatever segment the
config names, /root/reference/main.py:85-87); this module is the frontier
extension mandated by BASELINE.json's north rule.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..plans.barrier import with_barrier_columns

# canonical hash-range partition count for the URL-seen set — every state
# producer/consumer (batch crawl rounds, streaming dedup state, bench jobs)
# must agree on this or probe against the wrong bitset slice
N_PARTS = 64

# filter sets up to this many bytes are broadcast to the probe (~2x10^8
# keys at 1% fpp); larger ones take the shuffle-hash join on part_id
BROADCAST_MAX_BYTES = 256 << 20

BLOOM_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("words", ArrayType(LongType(), False), False),
        StructField("n_bits", LongType(), False),
        StructField("n_hashes", IntegerType(), False),
        StructField("n_keys", LongType(), False),
    ]
)

# the only columns filter_unseen accepts: every one is a pure function of
# the URL, so dedup may keep any survivor and h1/h2 may be recomputed
_CANDIDATE_COLS = frozenset({"url_canon", "h1", "h2", "part_id"})


def with_url_hashes(
    df: DataFrame, url_col: str = "url_canon", n_parts: int = 64
) -> DataFrame:
    """Attach (h1, h2, part_id) 64-bit hash columns, JVM-side (xxhash64 in
    whole-stage codegen — pure map, no shuffle)."""
    h1 = F.xxhash64(F.col(url_col))
    h2 = F.xxhash64(F.col(url_col), F.lit(1))
    return (
        df.withColumn("h1", h1)
        .withColumn("h2", h2)
        .withColumn("part_id", F.pmod(h1, F.lit(n_parts)).cast("int"))
    )


def _bit_indices(h1: np.ndarray, h2: np.ndarray, i: int, n_bits: int) -> np.ndarray:
    # uint64 wraparound arithmetic is well-defined; mod brings it into range
    return ((h1 + np.uint64(i) * h2) % np.uint64(n_bits)).astype(np.int64)


def _u64_col(tbl: pa.Table, name: str) -> np.ndarray:
    """Near-zero-copy view of a non-null int64 Arrow column as uint64
    (copies only when the column arrived in multiple chunks). Nulls are
    rejected loudly: pyarrow would otherwise convert the whole batch to
    float64 (NaN for nulls) and the uint64 reinterpretation would corrupt
    every hash in the batch — a silent bloom false-negative factory."""
    col = tbl.column(name)
    if col.null_count:
        raise ValueError(
            f"_u64_col: column {name!r} has {col.null_count} null(s) — "
            "hash columns must be non-null (null url_canon upstream?)"
        )
    return col.combine_chunks().to_numpy(zero_copy_only=False).view(np.uint64)


# Arrow spelling of BLOOM_SCHEMA's words type (non-null elements)
_WORDS_TYPE = pa.list_(pa.field("element", pa.int64(), nullable=False))


def _bloom_row(
    part_id: int, words: np.ndarray, n_bits: int, n_hashes: int, n_keys: int
) -> pa.Table:
    """One BLOOM_SCHEMA row as an Arrow table."""
    return pa.table(
        {
            "part_id": pa.array([part_id], type=pa.int32()),
            "words": pa.ListArray.from_arrays(
                pa.array([0, words.size], type=pa.int32()),
                pa.array(words, type=pa.int64()),
                type=_WORDS_TYPE,
            ),
            "n_bits": pa.array([n_bits], type=pa.int64()),
            "n_hashes": pa.array([n_hashes], type=pa.int32()),
            "n_keys": pa.array([n_keys], type=pa.int64()),
        }
    )


def build_bloom(
    hashed: DataFrame, n_bits_per_part: int = 1 << 20, n_hashes: int = 7
) -> DataFrame:
    """Per-partition bloom filters (BLOOM_SCHEMA) from a hashed URL
    DataFrame.

    ``n_bits_per_part`` default (1 Mi bits = 128 KiB) holds ~100k keys/part
    at ~1% fpp; size up with key count (m ≈ 9.6 n for 1% fpp). It must be a
    power of two ≥ 64: whole int64 words, and a modulo the JVM probe can
    reproduce exactly.

    Arrow-native (``applyInArrow``): the grouped exchange carries only
    ``(part_id, h1, h2)`` — 20 bytes/row instead of full URL rows — and the
    hash columns reach numpy as zero-copy views of the Arrow buffers.
    """
    if n_bits_per_part < 64 or n_bits_per_part & (n_bits_per_part - 1):
        raise ValueError(
            f"build_bloom: n_bits_per_part={n_bits_per_part} must be a power "
            "of two >= 64"
        )

    def _build(tbl: pa.Table) -> pa.Table:
        # bytes, little-endian: viewed as int64 words, bit idx lands in
        # word idx >> 6 at position idx & 63
        bits = np.zeros(n_bits_per_part // 8, dtype=np.uint8)
        h1 = _u64_col(tbl, "h1")
        h2 = _u64_col(tbl, "h2")
        for i in range(n_hashes):
            idx = _bit_indices(h1, h2, i, n_bits_per_part)
            np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
        return _bloom_row(
            tbl.column("part_id")[0].as_py(), bits.view("<i8"),
            n_bits_per_part, n_hashes, tbl.num_rows,
        )

    return (
        hashed.select("part_id", "h1", "h2")
        .groupBy("part_id")
        .applyInArrow(_build, BLOOM_SCHEMA)
    )


def merge_bloom(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR two compatible per-partition filter sets (e.g. snapshot + delta).
    Bloom filters of identical geometry merge by bitwise OR."""

    def _merge(tbl: pa.Table) -> pa.Table:
        part_id = tbl.column("part_id")[0].as_py()
        n_bits = set(tbl.column("n_bits").to_pylist())
        n_hashes = set(tbl.column("n_hashes").to_pylist())
        if len(n_bits) > 1 or len(n_hashes) > 1:
            raise ValueError(
                f"merge_bloom: incompatible filter geometries in part "
                f"{part_id}: n_bits={n_bits} n_hashes={n_hashes} — merging "
                "filters with different geometry would create false negatives"
            )
        words = (
            tbl.column("words").combine_chunks().flatten()
            .to_numpy(zero_copy_only=False).reshape(tbl.num_rows, -1)
        )
        return _bloom_row(
            part_id, np.bitwise_or.reduce(words, axis=0), n_bits.pop(),
            n_hashes.pop(),
            sum(tbl.column("n_keys").to_pylist()),  # upper bound
        )

    return a.unionByName(b).groupBy("part_id").applyInArrow(_merge, BLOOM_SCHEMA)


def bloom_stats(bloom: DataFrame) -> DataFrame:
    """Per-partition filter health: (part_id, n_keys, fill_ratio, est_fpp).

    ``fill_ratio = popcount(words) / n_bits``; ``est_fpp = fill_ratio **
    n_hashes`` (probability all k probed bits are set). Surfaced into each
    round's metrics snapshot so operators see the seen-set saturating
    BEFORE false positives start silently dropping genuinely-new URLs — the
    signal to re-shard with more/bigger partitions."""
    set_bits = F.aggregate(
        "words", F.lit(0).cast("long"), lambda acc, w: acc + F.bit_count(w)
    )
    fill = set_bits / F.col("n_bits")
    return bloom.select(
        "part_id",
        "n_keys",
        fill.alias("fill_ratio"),
        F.pow(fill, F.col("n_hashes")).alias("est_fpp"),
    )


def _probe_hashes(
    bits: np.ndarray, n_bits: int, n_hashes: int,
    h1: np.ndarray, h2: np.ndarray,
) -> np.ndarray:
    """Vectorized membership test of (h1, h2) key batches against one
    bitset slice given as little-endian bytes (a words array viewed as
    uint8) — the numpy form of :func:`_bloom_hit_expr`."""
    hit = np.ones(h1.size, dtype=bool)
    for i in range(n_hashes):
        idx = _bit_indices(h1, h2, i, n_bits)
        hit &= (bits[idx >> 3] & (1 << (idx & 7)).astype(np.uint8)) != 0
    return hit


def _bloom_hit_expr(n_bits: int, n_hashes: int, words_col: str):
    """Whole-stage-codegen membership test against a joined ``words``
    column — the same double-hashing bits :func:`_probe_hashes` probes,
    as pure JVM integer arithmetic (zero Python boundary).

    ANSI-safe wraparound: numpy computes ``(h1 + i*h2) mod 2^64 mod m``
    in uint64; for power-of-two ``m`` that equals
    ``((h1 & (m-1)) + i*(h2 & (m-1))) & (m-1)`` with intermediates
    ≤ (m-1)·k — no int64 overflow, so the expression is exact under
    ANSI mode (Spark 4 default) where a raw ``h1 + i*h2`` would throw
    ARITHMETIC_OVERFLOW. A missing partition row (NULL ``words``) probes
    NULL through ``element_at`` and coalesces to false: definitely new."""
    if n_bits & (n_bits - 1):
        raise ValueError(
            f"_bloom_hit_expr: n_bits={n_bits} must be a power of two — "
            "uint64 modulo by a non-power-of-two cannot be reproduced "
            "exactly in signed JVM arithmetic"
        )
    mask = n_bits - 1
    terms = []
    for i in range(n_hashes):
        idx = f"(((h1 & {mask}) + {i} * (h2 & {mask})) & {mask})"
        word = (
            f"element_at({words_col}, "
            f"cast(shiftright({idx}, 6) as int) + 1)"
        )
        terms.append(
            f"((shiftright({word}, cast(({idx} & 63) as int)) & 1) = 1)"
        )
    return F.coalesce(F.expr(" AND ".join(terms)), F.lit(False))


def _geometry(bloom: DataFrame) -> tuple[int, int, int]:
    """``(n_bits, n_hashes, total_bits)`` of a filter set, from one
    metadata aggregate. Refuses what the probe would get wrong: an empty
    set (no geometry), mixed geometries (merge_bloom first) and two rows
    for one part (a duplicate part_id would duplicate candidate rows
    through the probe join)."""
    g = bloom.agg(
        F.min("n_bits").alias("nb_min"),
        F.max("n_bits").alias("nb_max"),
        F.min("n_hashes").alias("nh_min"),
        F.max("n_hashes").alias("nh_max"),
        F.sum("n_bits").alias("total"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("part_id").alias("n_parts"),
    ).collect()[0]
    if g["total"] is None:
        raise ValueError("bloom probe: empty filter set — no geometry to probe")
    if g["nb_min"] != g["nb_max"] or g["nh_min"] != g["nh_max"]:
        raise ValueError(
            "bloom probe: mixed filter geometries "
            f"(n_bits {g['nb_min']}..{g['nb_max']}, n_hashes "
            f"{g['nh_min']}..{g['nh_max']}) — merge_bloom first"
        )
    if g["n_rows"] != g["n_parts"]:
        raise ValueError(
            f"bloom probe: filter set has {g['n_rows']} rows over "
            f"{g['n_parts']} partitions — merge_bloom snapshot and delta "
            "first (a duplicate part_id would duplicate candidate rows "
            "through the probe join)"
        )
    return int(g["nb_min"]), int(g["nh_min"]), int(g["total"])


def probe_bloom(
    candidates: DataFrame,
    bloom: DataFrame,
    geometry: tuple[int, int, int] | None = None,
) -> DataFrame:
    """Flag each candidate row ``maybe_seen``: the per-partition ``words``
    are joined to candidates on ``part_id`` and membership is tested by
    :func:`_bloom_hit_expr` inside whole-stage codegen. ``candidates`` must
    carry (h1, h2, part_id) from :func:`with_url_hashes`. Output =
    candidate columns + ``maybe_seen`` boolean.

    Join strategy is the scale dial: a filter set within
    ``BROADCAST_MAX_BYTES`` is broadcast — the probe fuses into the
    upstream map stage, zero exchange. A 10^10-key set (~12 GB of bitset
    over e.g. 4096 parts) exceeds executor memory and takes a shuffle-hash
    join on ``part_id`` instead: each task's hash map holds only its ~3 MB
    slices. The words arrays never reach a downstream operator — the
    projection consumes them inside the join stage.

    ``geometry`` = precomputed :func:`_geometry` result, to skip the
    metadata aggregate when the caller already ran it.

    Candidates carrying a pre-existing ``maybe_seen`` column raise (the
    output barrier appends, it does not replace) — drop the stale flag
    before a re-probe."""
    n_bits, n_hashes, total_bits = geometry or _geometry(bloom)
    cols = candidates.columns
    if "__bf_words" in cols:
        raise ValueError("probe_bloom: candidate column __bf_words collides")
    w = bloom.select("part_id", F.col("words").alias("__bf_words"))
    side = (
        F.broadcast(w)
        if total_bits // 8 <= BROADCAST_MAX_BYTES
        else w.hint("shuffle_hash")
    )
    # maybe_seen goes through the no-op Generate barrier (plans/barrier.py):
    # a downstream filter(~maybe_seen) / filter(maybe_seen) would otherwise
    # be pushed below this projection with the whole probe expression
    # substituted — 2k copies of the h1/h2 index arithmetic (and of
    # whatever expressions feed h1/h2 if the upstream stage is fused) in a
    # single Filter method. Behind the barrier the probe is evaluated once
    # and downstream predicates see an attribute.
    joined = candidates.join(side, on="part_id", how="left")
    return with_barrier_columns(
        joined,
        {"maybe_seen": _bloom_hit_expr(n_bits, n_hashes, "__bf_words")},
    ).select(*cols, "maybe_seen")


def filter_unseen(
    candidates: DataFrame, seen_urls: DataFrame, bloom: DataFrame
) -> DataFrame:
    """Distinct candidate URLs not in ``seen_urls``: bloom probe, dedup,
    then an exact anti-join of only the maybe-seen remainder.

    ``candidates`` must be exactly ``with_url_hashes`` output over a
    ``url_canon`` column: ``(url_canon, h1, h2, part_id)``. Callers with
    derivable companion columns (host = host of url_canon) drop them
    before this call and recompute downstream (``urlgen.host_of_canon``).
    ``seen_urls`` is the exact table (one ``url_canon`` column at minimum);
    ``bloom`` covers at least every URL in it.

    Probe first, then dedup: the broadcast-join probe fuses into the
    upstream canonicalize/hash map stage (zero exchange), so the round's
    one big exchange is the dedup aggregate over (url, part_id,
    maybe_seen) — every column a pure function of the URL, so any
    dropDuplicates survivor is value-identical. h1/h2 are recomputed after
    the exchange (with_url_hashes recipe, pruned away when the caller never
    reads them). Measured at 2 pinned cores on 3M URLs: probe-first 9.9s
    vs dedup-first 12.2s — dedup-first pays a post-exchange probe stage.
    """
    if set(candidates.columns) != _CANDIDATE_COLS:
        raise ValueError(
            f"filter_unseen: candidates must have exactly columns "
            f"{sorted(_CANDIDATE_COLS)}, got {candidates.columns} — drop "
            "companion columns first and recompute them after the call"
        )
    # the geometry check executes the bloom plan: cheap column-pruned
    # metadata scan for a storage-backed bloom, but a FULL build for a
    # computed one (build_bloom(...) passed straight in) — persist so
    # the probe below reuses that work instead of building twice
    bloom = bloom.persist(StorageLevel.MEMORY_AND_DISK)
    flagged = (
        probe_bloom(candidates, bloom, _geometry(bloom))
        .select("url_canon", "part_id", "maybe_seen")
        .dropDuplicates(["url_canon"])
        .withColumn("h1", F.xxhash64(F.col("url_canon")))
        .withColumn("h2", F.xxhash64(F.col("url_canon"), F.lit(1)))
        .select(*candidates.columns, "maybe_seen")
    )
    # the two branches below would otherwise re-execute the probe (and
    # everything upstream) once each — persist the probe output; the
    # ContextCleaner unpersists it when the DataFrame is GC'd.
    # LAZY persist deliberately (measured, interleaved A/B at pinned 2 and
    # 8 cores): an eager count() here costs 9-15% per round — the barrier
    # splits the round into two sequential jobs and kills stage overlap —
    # while the feared cache-population race between the branches does not
    # materialize (stage scheduling populates the cache once; lazy also
    # beat no-persist-at-all, so the dedup is real).
    flagged = flagged.persist(StorageLevel.MEMORY_AND_DISK)
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybe.join(
        seen_urls.select("url_canon"), on="url_canon", how="left_anti"
    )
    return definitely_new.unionByName(confirmed_new)


# ---------------------------------------------------------------------------
# Cuckoo filter — deletion-capable variant (north rule: "cuckoo-filter
# fallback for deletions"). Same partitioned layout: one serialized filter
# per hash-range partition.
# ---------------------------------------------------------------------------

class CuckooFilter:
    """Bucketed cuckoo filter (4 slots/bucket, 16-bit fingerprints).

    Standard construction (Fan et al., CoNEXT'14): a key hashes to bucket
    ``i1 = h mod n`` and its alternate ``i2 = i1 XOR hash(fp)``; membership
    checks both buckets for the fingerprint; delete removes one copy, which
    bloom filters cannot do. Contains/delete are numpy-vectorized over
    batches; insert uses the bounded kick loop.
    """

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int = 1 << 14, table: np.ndarray | None = None):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of 2"
        self.n_buckets = n_buckets
        self.table = (
            table
            if table is not None
            else np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        )

    # fingerprint: 16-bit, never 0 (0 marks an empty slot)
    @staticmethod
    def _fingerprint(h: np.ndarray) -> np.ndarray:
        fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1
        return fp

    def _alt_index(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # MurmurHash-style fingerprint scramble for the partner bucket
        scrambled = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(
            0xFFFFFFFF
        )
        return (idx ^ scrambled.astype(np.int64)) % self.n_buckets

    def _indices(self, h: np.ndarray):
        fp = self._fingerprint(h)
        i1 = (h % np.uint64(self.n_buckets)).astype(np.int64)
        i2 = self._alt_index(i1, fp)
        return fp, i1, i2

    def insert(self, h64: np.ndarray) -> int:
        """Insert a batch of uint64 hashes; returns number that FAILED
        (table too full). Idempotency is NOT guaranteed (multiset), matching
        standard cuckoo semantics — callers dedupe first."""
        fp, i1, i2 = self._indices(h64.view(np.uint64))
        failed = 0
        for f, a, b in zip(fp.tolist(), i1.tolist(), i2.tolist()):
            if not self._insert_one(np.uint16(f), a, b):
                failed += 1
        return failed

    def _insert_one(self, f: np.uint16, a: int, b: int) -> bool:
        for idx in (a, b):
            row = self.table[idx]
            empty = np.nonzero(row == 0)[0]
            if empty.size:
                row[empty[0]] = f
                return True
        # kick loop
        idx = a
        rng_state = int(f)  # deterministic "random" slot choice
        for _ in range(self.MAX_KICKS):
            rng_state = (rng_state * 1103515245 + 12345) & 0x7FFFFFFF
            slot = rng_state % self.SLOTS
            f, self.table[idx, slot] = self.table[idx, slot], f
            idx = int(
                self._alt_index(
                    np.array([idx], dtype=np.int64), np.array([f], dtype=np.uint16)
                )[0]
            )
            row = self.table[idx]
            empty = np.nonzero(row == 0)[0]
            if empty.size:
                row[empty[0]] = f
                return True
        return False

    def contains(self, h64: np.ndarray) -> np.ndarray:
        fp, i1, i2 = self._indices(h64.view(np.uint64))
        fcol = fp[:, None]
        return ((self.table[i1] == fcol) | (self.table[i2] == fcol)).any(axis=1)

    def delete(self, h64: np.ndarray) -> np.ndarray:
        """Delete one copy of each hash's fingerprint; returns boolean
        array of which deletions found a copy."""
        fp, i1, i2 = self._indices(h64.view(np.uint64))
        out = np.zeros(len(fp), dtype=bool)
        for j, (f, a, b) in enumerate(zip(fp.tolist(), i1.tolist(), i2.tolist())):
            for idx in (a, b):
                row = self.table[idx]
                hit = np.nonzero(row == f)[0]
                if hit.size:
                    row[hit[0]] = 0
                    out[j] = True
                    break
        return out

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_buckets: int) -> "CuckooFilter":
        table = (
            np.frombuffer(data, dtype=np.uint16).reshape(n_buckets, cls.SLOTS).copy()
        )
        return cls(n_buckets, table)


CUCKOO_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("table", BinaryType(), False),
        StructField("n_buckets", IntegerType(), False),
        StructField("n_keys", LongType(), False),
    ]
)


def build_cuckoo(hashed: DataFrame, n_buckets: int = 1 << 14) -> DataFrame:
    """Per-partition cuckoo filters (deletion-capable seen set).
    Arrow-native like :func:`build_bloom`: the grouped exchange carries
    only ``(part_id, h1)``."""

    def _build(tbl: pa.Table) -> pa.Table:
        cf = CuckooFilter(n_buckets)
        h = np.unique(_u64_col(tbl, "h1"))
        failed = cf.insert(h)
        if failed:
            raise ValueError(
                f"build_cuckoo: partition "
                f"{tbl.column('part_id')[0].as_py()} "
                f"overflowed — {failed}/{len(h)} keys failed to insert at "
                f"n_buckets={n_buckets} ({n_buckets * CuckooFilter.SLOTS} "
                "slots). A lossy cuckoo filter has false negatives, which "
                "the seen-set must never have; size n_buckets to ~keys/3"
            )
        return pa.table(
            {
                "part_id": pa.array(
                    [tbl.column("part_id")[0].as_py()], type=pa.int32()
                ),
                "table": pa.array([cf.to_bytes()], type=pa.binary()),
                "n_buckets": pa.array([n_buckets], type=pa.int32()),
                "n_keys": pa.array([len(h)], type=pa.int64()),
            }
        )

    return (
        hashed.select("part_id", "h1")
        .groupBy("part_id")
        .applyInArrow(_build, CUCKOO_SCHEMA)
    )


def probe_cuckoo(candidates: DataFrame, cuckoo: DataFrame) -> DataFrame:
    """``maybe_seen`` flag from the cuckoo variant (same contract as
    :func:`probe_bloom`)."""
    out_schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType(), False)]
    )

    def _probe(cand: pa.Table, filt: pa.Table) -> pa.Table:
        cand = cand.combine_chunks()
        if filt.num_rows == 0 or cand.num_rows == 0:
            hit = np.zeros(cand.num_rows, dtype=bool)
        elif filt.num_rows > 1:
            raise ValueError(
                f"probe_cuckoo: {filt.num_rows} filter rows for part_id "
                f"{filt.column('part_id')[0].as_py()} — combine filters first"
            )
        else:
            cf = CuckooFilter.from_bytes(
                filt.column("table")[0].as_py(),
                filt.column("n_buckets")[0].as_py(),
            )
            hit = cf.contains(_u64_col(cand, "h1"))
        return cand.append_column(
            "maybe_seen", pa.array(hit, type=pa.bool_())
        )

    return (
        candidates.groupBy("part_id")
        .cogroup(cuckoo.groupBy("part_id"))
        .applyInArrow(_probe, out_schema)
    )
