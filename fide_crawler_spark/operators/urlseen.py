"""URL-seen membership: partitioned Bloom filter + cuckoo variant.

Reference analog: the SQLite MIN/MAX date-range probe that prevents
refetching months inside the cached range
(``data_processing/data_fetching_processing.py:216-234``) plus the
``@st.cache`` memo (``:16``).  At 10^10-URL scale that becomes a
membership structure:

* **PartitionedBloom** — the frontier hash space is split into
  ``n_parts`` sub-filters keyed by ``url_hash % n_parts``.  The bits to
  set are computed in the JVM by one aggregate — (part, 64-bit word) →
  OR of the word's set bits — and the driver ORs the collected words
  into its parts, so no Python worker runs and driver traffic is
  bounded by the filter's size, never the hash count; parts are
  persisted, deflated (see below), as per-snapshot state files and
  co-partitioned with the frontier.  Probe order: Bloom pre-pass (no
  false negatives → definite-unseen rows skip the join entirely), then
  an exact ``left_anti`` join only for the maybe-seen minority (SURVEY
  G11/C3).
* **CuckooFilter** — supports deletion (forced recrawl re-admits a URL
  by deleting its fingerprint), which Bloom cannot.  Standard
  4-slot-bucket cuckoo hashing with 16-bit fingerprints.

Hashing: two independent 32-bit halves of Spark's ``xxhash64(url)``
(computed JVM-side, never in Python) combined Kirsch-Mitzenmacher
style: ``idx_i = (h1 + i*h2) mod m``.

Serialized state (snapshot sidecars and task broadcasts): the dense bit
array / bucket table, zlib-deflated at level 1 behind the ``PBZ1`` /
``CKZ1`` magics (Mitzenmacher's compressed Bloom filters — a filter
sized for the crawl it will become stays sparse most of its life, and
the 1 MiB default compresses to a few KB at a few hundred URLs).
``from_bytes`` still reads the raw ``PBF1`` / ``CKF1`` blobs, so
snapshots written before compression resume unchanged; the decoded
arrays are identical either way.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# level 1: at 100k URLs level 6 is only ~10% smaller but ~7× slower
ZLIB_LEVEL = 1


def _body(blob: bytes, raw_magic: bytes, z_magic: bytes, at: int, size: int) -> bytes:
    """The ``size`` array bytes after the ``at``-byte header: inflated
    for ``z_magic``, as stored for the legacy ``raw_magic``.  Blobs are
    read back from snapshot files, so a bad one raises."""
    magic = blob[:4]
    if magic not in (raw_magic, z_magic):
        raise ValueError(f"bad filter blob magic {magic!r}")
    body = zlib.decompress(blob[at:]) if magic == z_magic else blob[at:]
    if len(body) != size:
        raise ValueError(f"filter body is {len(body)} bytes, header says {size}")
    return body


def _split_hash(hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    h = hashes.astype(np.uint64)
    return (h >> np.uint64(32)).astype(np.uint64), (h & np.uint64(0xFFFFFFFF)).astype(np.uint64)


class PartitionedBloom:
    """n_parts sub-Blooms over the url_hash space; no false negatives."""

    MAGIC = b"PBF1"   # raw bit array: read only, for older snapshots
    ZMAGIC = b"PBZ1"  # deflated bit array: what to_bytes writes

    def __init__(self, n_parts: int = 8, bits_per_part: int = 1 << 20, k: int = 5):
        # power-of-2 so signed pmod (Spark) and uint64 modulo (numpy)
        # agree on part assignment for the same 64-bit pattern
        assert n_parts & (n_parts - 1) == 0, "n_parts must be a power of 2"
        # whole 64-bit words: build_bloom ORs little-endian uint64 words
        # (bit pos % 64 of word pos // 64) into the byte layout below
        assert bits_per_part % 64 == 0, "bits_per_part must be a multiple of 64"
        self.n_parts = n_parts
        self.bits = bits_per_part
        self.k = k
        self.parts = [np.zeros(bits_per_part // 8, dtype=np.uint8) for _ in range(n_parts)]

    # -- core ops (vectorized numpy; called from Arrow batches) -----------
    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        h1, h2 = _split_hash(hashes)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return (h1[None, :] + i * h2[None, :]) % np.uint64(self.bits)

    def add_hashes(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        hashes = np.asarray(hashes, dtype=np.uint64)
        part_ids = (hashes % np.uint64(self.n_parts)).astype(np.int64)
        pos = self._positions(hashes)  # (k, n)
        for p in np.unique(part_ids):
            sel = pos[:, part_ids == p].ravel()
            np.bitwise_or.at(self.parts[p], sel >> np.uint64(3),
                             np.uint8(1) << (sel & np.uint64(7)).astype(np.uint8))

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        hashes = np.asarray(hashes, dtype=np.uint64)
        part_ids = (hashes % np.uint64(self.n_parts)).astype(np.int64)
        pos = self._positions(hashes)
        out = np.ones(len(hashes), dtype=bool)
        for p in np.unique(part_ids):
            mask = part_ids == p
            sel = pos[:, mask]
            bits = (self.parts[p][(sel >> np.uint64(3)).astype(np.int64)]
                    >> (sel & np.uint64(7)).astype(np.uint8)) & 1
            out[mask] = bits.all(axis=0)
        return out

    def merge(self, other: "PartitionedBloom") -> None:
        assert (self.n_parts, self.bits, self.k) == (other.n_parts, other.bits, other.k)
        for a, b in zip(self.parts, other.parts):
            np.bitwise_or(a, b, out=a)

    # -- (de)serialization — persisted as snapshot state ------------------
    def to_bytes(self) -> bytes:
        header = self.ZMAGIC + np.array(
            [self.n_parts, self.bits, self.k], dtype=np.uint64
        ).tobytes()
        return header + zlib.compress(b"".join(self.parts), ZLIB_LEVEL)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "PartitionedBloom":
        n_parts, bits, k = (int(v) for v in np.frombuffer(blob[4:28], dtype=np.uint64))
        per = bits // 8
        body = _body(blob, cls.MAGIC, cls.ZMAGIC, 28, n_parts * per)
        bf = cls(n_parts, bits, k)
        bf.parts = [
            np.frombuffer(body[i * per:(i + 1) * per], dtype=np.uint8).copy()
            for i in range(n_parts)
        ]
        return bf


def _bloom_words(
    df: DataFrame, hash_col: str, n_parts: int, bits_per_part: int, k: int,
) -> DataFrame:
    """(part, word, bits): for every 64-bit word of every sub-filter that
    ``df``'s hashes touch, the OR of the bits they set in it.  The same
    positions as :meth:`PartitionedBloom._positions` — ``h1``/``h2`` are
    the unsigned 32-bit halves, so ``h1 + i*h2`` never overflows a
    signed long and ``pmod`` equals numpy's uint64 modulo; the part is
    ``pmod(h, n_parts)``, which matches the uint64 modulo for a
    power-of-two ``n_parts``."""
    h = F.col(hash_col).cast("long")
    h1 = F.shiftrightunsigned(h, 32)
    h2 = h.bitwiseAND(F.lit(0xFFFFFFFF))
    pos = F.explode(F.array(*[
        F.pmod(h1 + F.lit(i) * h2, F.lit(bits_per_part)) for i in range(k)
    ]))
    return (
        df.select(F.pmod(h, F.lit(n_parts)).alias("part"), pos.alias("pos"))
        .groupBy("part", F.shiftright("pos", 6).alias("word"))
        # shiftleft's Python form takes only a literal shift count
        .agg(F.bit_or(F.expr("shiftleft(1L, pos % 64)")).alias("bits"))
    )


def build_bloom(
    df: DataFrame, hash_col: str = "url_hash",
    n_parts: int = 8, bits_per_part: int = 1 << 20, k: int = 5,
) -> PartitionedBloom:
    """Filter of ``df``'s hashes, built by one JVM aggregate: each hash
    explodes into its k bit positions, which are OR-combined per
    (part, 64-bit word), partially on the map side.  The collected rows
    are bounded by the filter's own size (n_parts × bits/64 words),
    never by the number of hashes, and the driver ORs each word into
    the part's little-endian uint64 view — byte-identical to
    :meth:`PartitionedBloom.add_hashes` on the same hashes."""
    bf = PartitionedBloom(n_parts, bits_per_part, k)
    words = [p.view("<u8") for p in bf.parts]
    for r in _bloom_words(df, hash_col, n_parts, bits_per_part, k).collect():
        words[r["part"]][r["word"]] |= np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return bf


def bloom_probe_col(spark, bloom: PartitionedBloom, hash_col: str = "url_hash"):
    """Column expression: might_contain(url_hash) via a broadcast filter
    probed inside an Arrow-vectorized pandas UDF.
    """
    blob_bc = spark.sparkContext.broadcast(bloom.to_bytes())
    holder: dict = {}  # task-local memo: from_bytes copies MBs of bit
    # arrays, so reconstruct once per task instead of once per Arrow batch

    @F.pandas_udf("boolean")
    def probe(h: pd.Series) -> pd.Series:
        bf = holder.get("bf")
        if bf is None:
            bf = holder["bf"] = PartitionedBloom.from_bytes(blob_bc.value)
        return pd.Series(bf.might_contain(h.to_numpy().astype(np.uint64)))

    return probe(F.col(hash_col))


def filter_unseen(
    spark,
    candidates: DataFrame,
    seen: DataFrame,
    bloom: PartitionedBloom | None,
    hash_col: str = "url_hash",
    *,
    caches: list,
) -> DataFrame:
    """Definitely-unseen (Bloom negative) rows bypass the join; only the
    maybe-seen minority pays the exact ``left_anti`` backstop (SURVEY
    C3).  With a healthy FPP the anti-join side is ~|seen ∩ candidates|
    + ε, not |candidates|.

    Both branches read the probed candidates, so the probe result is
    persisted once and appended to ``caches``, which the caller
    releases after its last action on the result.  Uncached, each
    branch would re-run the pandas probe, and the anti-join's inferred
    filter would run it over the whole seen side too.
    """
    seen_keys = seen.select(hash_col).distinct()
    if bloom is None:
        return candidates.join(seen_keys, hash_col, "left_anti")
    probed = candidates.withColumn(
        "_maybe", bloom_probe_col(spark, bloom, hash_col)
    ).persist()
    caches.append(probed)
    sure_new = probed.filter(~F.col("_maybe")).drop("_maybe")
    checked = (
        probed.filter(F.col("_maybe")).drop("_maybe")
        .join(seen_keys, hash_col, "left_anti")
    )
    return sure_new.unionByName(checked)


class CuckooFilter:
    """4-way bucketized cuckoo filter with 16-bit fingerprints.

    Supports delete → used for forced-recrawl re-admission.  Driver-side
    at sandbox scale; the scale path shards it exactly like
    PartitionedBloom (one filter per ``url_hash % n_parts``).
    """

    MAGIC = b"CKF1"   # raw table: read only, for older snapshots
    ZMAGIC = b"CKZ1"  # deflated table: what to_bytes writes
    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int = 1 << 16):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of 2"
        self.n_buckets = n_buckets
        self.table = np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)  # 0 = empty

    def _fp_and_buckets(self, h: int) -> tuple[int, int, int]:
        h = int(h) & 0xFFFFFFFFFFFFFFFF
        fp = (h & 0xFFFF) or 1  # never 0 (0 marks empty)
        b1 = (h >> 16) & (self.n_buckets - 1)
        # partial-key cuckoo: alt bucket from fp hash (public construction,
        # Fan et al. 2014)
        b2 = (b1 ^ (fp * 0x5BD1E995)) & (self.n_buckets - 1)
        return fp, b1, b2

    def insert(self, h: int, _rng_state: int = 0x9E3779B9) -> bool:
        fp, b1, b2 = self._fp_and_buckets(h)
        for b in (b1, b2):
            empties = np.flatnonzero(self.table[b] == 0)
            if len(empties):
                self.table[b, empties[0]] = fp
                return True
        # displace: deterministic pseudo-random walk (no wall-clock RNG)
        b, state = b1, (int(h) ^ _rng_state) & 0xFFFFFFFF
        for _ in range(self.MAX_KICKS):
            state = (state * 1103515245 + 12345) & 0xFFFFFFFF
            slot = state % self.SLOTS
            fp, self.table[b, slot] = int(self.table[b, slot]), fp
            b = (b ^ (fp * 0x5BD1E995)) & (self.n_buckets - 1)
            empties = np.flatnonzero(self.table[b] == 0)
            if len(empties):
                self.table[b, empties[0]] = fp
                return True
        return False  # full — caller should resize

    def contains(self, h: int) -> bool:
        fp, b1, b2 = self._fp_and_buckets(h)
        return bool((self.table[b1] == fp).any() or (self.table[b2] == fp).any())

    def delete(self, h: int) -> bool:
        fp, b1, b2 = self._fp_and_buckets(h)
        for b in (b1, b2):
            idx = np.flatnonzero(self.table[b] == fp)
            if len(idx):
                self.table[b, idx[0]] = 0
                return True
        return False

    def to_bytes(self) -> bytes:
        return self.ZMAGIC + np.array([self.n_buckets], dtype=np.uint64).tobytes() \
            + zlib.compress(self.table, ZLIB_LEVEL)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        n_buckets = int(np.frombuffer(blob[4:12], dtype=np.uint64)[0])
        body = _body(blob, cls.MAGIC, cls.ZMAGIC, 12, n_buckets * cls.SLOTS * 2)
        cf = cls(n_buckets)
        cf.table = np.frombuffer(body, dtype=np.uint16).reshape(
            n_buckets, cls.SLOTS
        ).copy()
        return cf


class PartitionedCuckoo:
    """Sharded deletable URL-seen filter: one CuckooFilter per
    ``url_hash % n_parts``, mirroring PartitionedBloom's layout so the
    two structures stay co-partitioned with the frontier.

    The driver only ever holds serialized part blobs; inserts run
    executor-side via :func:`update_cuckoo` (hashes are shuffled by
    part id — total driver traffic = the filter bytes, never the
    hashes).  Parts resize independently, so one hot shard doubling
    does not rewrite the other ``n_parts − 1`` tables.
    """

    MAGIC = b"PCK1"

    def __init__(self, n_parts: int = 8, n_buckets_per_part: int = 1 << 13):
        assert n_parts & (n_parts - 1) == 0, "n_parts must be a power of 2"
        self.n_parts = n_parts
        self.parts = [CuckooFilter(n_buckets_per_part) for _ in range(n_parts)]

    def _pid(self, h: int) -> int:
        return (int(h) & 0xFFFFFFFFFFFFFFFF) % self.n_parts

    # driver-side single-key ops (small sets: forced-recrawl deletes,
    # tests); bulk inserts go through update_cuckoo.  NOTE: insert() is
    # a test/bootstrap convenience ONLY — update_cuckoo rebuilds an
    # overflowed part solely from its ``all_hashes`` source of truth,
    # so any fingerprint inserted here that is absent from all_hashes
    # is dropped from that part on overflow.  Production mutations must
    # all flow through update_cuckoo so state and source of truth agree.
    def insert(self, h: int) -> bool:
        return self.parts[self._pid(h)].insert(h)

    def contains(self, h: int) -> bool:
        return self.parts[self._pid(h)].contains(h)

    def delete(self, h: int) -> bool:
        return self.parts[self._pid(h)].delete(h)

    def to_bytes(self) -> bytes:
        # parts resize independently → store a length-prefixed blob per
        # part rather than assuming uniform table sizes
        blobs = [p.to_bytes() for p in self.parts]
        header = self.MAGIC + np.array([self.n_parts], dtype=np.uint64).tobytes()
        lens = np.array([len(b) for b in blobs], dtype=np.uint64).tobytes()
        return header + lens + b"".join(blobs)

    @classmethod
    def _header(cls, blob: bytes) -> tuple[np.ndarray, int]:
        """Per-part blob lengths and the offset of part 0's blob.  Blobs
        are read back from snapshot files, so a bad magic or a length
        table cut short raises."""
        if blob[:4] != cls.MAGIC or len(blob) < 12:
            raise ValueError(f"bad partitioned-cuckoo header {bytes(blob[:12])!r}")
        n_parts = int(np.frombuffer(blob[4:12], dtype=np.uint64)[0])
        off = 12 + 8 * n_parts
        if len(blob) < off:
            raise ValueError(
                f"partitioned-cuckoo blob of {len(blob)} bytes is shorter "
                f"than its {n_parts}-part length table"
            )
        lens = np.frombuffer(blob[12:off], dtype=np.uint64)
        if len(blob) != off + int(lens.sum()):
            raise ValueError(
                f"partitioned-cuckoo blob is {len(blob)} bytes, its length "
                f"table says {off + int(lens.sum())}"
            )
        return lens, off

    @classmethod
    def from_bytes(cls, blob: bytes) -> "PartitionedCuckoo":
        lens, off = cls._header(blob)
        pc = cls.__new__(cls)
        pc.n_parts = len(lens)
        pc.parts = []
        for ln in lens:
            pc.parts.append(CuckooFilter.from_bytes(blob[off:off + int(ln)]))
            off += int(ln)
        return pc

    @classmethod
    def part_from_bytes(cls, blob: bytes, pid: int) -> CuckooFilter:
        """Deserialize ONE shard from a serialized PartitionedCuckoo —
        executor tasks own a few pids and must not materialize all
        n_parts tables (that would defeat the per-task memory bound the
        sharding provides)."""
        lens, off = cls._header(blob)
        if not 0 <= pid < len(lens):
            raise ValueError(f"part {pid} out of range for {len(lens)} parts")
        off += int(lens[:pid].sum())
        return CuckooFilter.from_bytes(blob[off:off + int(lens[pid])])


def _grow_part_with(hashes: np.ndarray, start_buckets: int) -> CuckooFilter:
    """Build one part from its full hash set, doubling until it fits."""
    n_buckets = max(start_buckets, 2)
    while True:
        cf = CuckooFilter(n_buckets)
        if all(cf.insert(int(h)) for h in hashes):
            return cf
        n_buckets *= 2


def update_cuckoo(
    spark,
    new_hashes: DataFrame,
    all_hashes: DataFrame,
    ck: PartitionedCuckoo,
    hash_col: str = "url_hash",
) -> PartitionedCuckoo:
    """Distributed delta-insert into the sharded cuckoo filter.

    ``new_hashes`` (this epoch's fetched url_hash rows) are shuffled by
    part id; each task inserts into its own part(s) of the broadcast
    filter and ships back only the mutated part blobs.  A part that
    overflows is rebuilt bigger in a second pass from ``all_hashes``
    (the source of truth, e.g. every fetched row of the frontier) —
    again executor-side,
    touching only the overflowing part ids: a task holds one part's
    full hash set (|fetched| / n_parts — size n_parts so this fits),
    never the whole seen set, and the driver never collects a hash.
    """
    n_parts = ck.n_parts
    blob_bc = spark.sparkContext.broadcast(ck.to_bytes())
    part_of = F.pmod(F.col(hash_col).cast("long"), F.lit(n_parts))

    def insert_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local: dict[int, CuckooFilter] = {}
        failed: set[int] = set()
        for pdf in batches:
            if not len(pdf):
                continue
            hashes = pdf[hash_col].to_numpy().astype(np.uint64)
            pids = (hashes % np.uint64(n_parts)).astype(np.int64)
            for pid in np.unique(pids):
                pid = int(pid)
                if pid in failed:
                    continue
                if pid not in local:
                    # slice ONLY this shard out of the broadcast blob
                    local[pid] = PartitionedCuckoo.part_from_bytes(
                        blob_bc.value, pid
                    )
                cf = local[pid]
                for h in hashes[pids == pid]:
                    if not cf.insert(int(h)):
                        # a failed insert evicts a victim mid-kick →
                        # this part's state is untrustworthy; flag for
                        # the rebuild pass
                        failed.add(pid)
                        break
        for pid, cf in local.items():
            ok = pid not in failed
            yield pd.DataFrame(
                {"part": [pid], "ok": [ok],
                 "blob": [cf.to_bytes() if ok else b""]}
            )

    rows = (
        new_hashes.select(F.col(hash_col).cast("long").alias(hash_col))
        .repartition(n_parts, part_of)
        .mapInPandas(insert_parts, schema="part int, ok boolean, blob binary")
        .collect()
    )

    out = PartitionedCuckoo.from_bytes(ck.to_bytes())  # copy untouched parts
    overflowed = []
    for r in rows:
        if r["ok"]:
            out.parts[int(r["part"])] = CuckooFilter.from_bytes(bytes(r["blob"]))
        else:
            overflowed.append(int(r["part"]))

    if overflowed:
        start_sizes = {pid: ck.parts[pid].n_buckets * 2 for pid in overflowed}

        def rebuild_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc: dict[int, list[np.ndarray]] = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                hashes = pdf[hash_col].to_numpy().astype(np.uint64)
                pids = (hashes % np.uint64(n_parts)).astype(np.int64)
                for pid in np.unique(pids):
                    acc.setdefault(int(pid), []).append(hashes[pids == pid])
            for pid, chunks in acc.items():
                cf = _grow_part_with(np.concatenate(chunks), start_sizes[pid])
                yield pd.DataFrame({"part": [pid], "blob": [cf.to_bytes()]})

        rebuilt = (
            all_hashes.select(F.col(hash_col).cast("long").alias(hash_col))
            .filter(part_of.isin(overflowed))
            .repartition(len(overflowed), part_of)
            .mapInPandas(rebuild_parts, schema="part int, blob binary")
            .collect()
        )
        for r in rebuilt:
            out.parts[int(r["part"])] = CuckooFilter.from_bytes(bytes(r["blob"]))
    return out
