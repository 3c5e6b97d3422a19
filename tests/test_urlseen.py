"""Tests for the Bloom / cuckoo URL-seen structures and their Spark
build, probe and update paths."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fide_crawler_spark.operators.urlseen import (
    CuckooFilter,
    PartitionedBloom,
    PartitionedCuckoo,
    _bloom_words,
    build_bloom,
    filter_unseen,
)


def _hashes(n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 2**63, size=n, dtype=np.int64).astype(np.uint64)


def test_bloom_no_false_negatives():
    bf = PartitionedBloom(n_parts=4, bits_per_part=1 << 16, k=5)
    added = _hashes(5000, 1)
    bf.add_hashes(added)
    assert bf.might_contain(added).all()


def test_bloom_low_false_positive_rate():
    bf = PartitionedBloom(n_parts=4, bits_per_part=1 << 18, k=5)
    bf.add_hashes(_hashes(10000, 2))
    other = _hashes(10000, 3)
    fpp = bf.might_contain(other).mean()
    assert fpp < 0.02, f"fpp too high: {fpp}"


def test_bloom_roundtrip_and_merge():
    a = PartitionedBloom(n_parts=4, bits_per_part=1 << 14, k=3)
    b = PartitionedBloom(n_parts=4, bits_per_part=1 << 14, k=3)
    ha, hb = _hashes(100, 4), _hashes(100, 5)
    a.add_hashes(ha)
    b.add_hashes(hb)
    a2 = PartitionedBloom.from_bytes(a.to_bytes())
    assert a2.might_contain(ha).all()
    a2.merge(b)
    assert a2.might_contain(hb).all()


def test_cuckoo_insert_contains_delete():
    cf = CuckooFilter(n_buckets=1 << 12)
    hs = [int(h) for h in _hashes(2000, 6)]
    for h in hs:
        assert cf.insert(h)
    assert all(cf.contains(h) for h in hs)
    for h in hs[:500]:
        assert cf.delete(h)
    # deleted fingerprints gone (modulo fp collisions from remaining items)
    still = sum(cf.contains(h) for h in hs[:500])
    assert still < 50
    assert all(cf.contains(h) for h in hs[500:])


def test_cuckoo_roundtrip():
    cf = CuckooFilter(n_buckets=1 << 10)
    hs = [int(h) for h in _hashes(500, 7)]
    for h in hs:
        cf.insert(h)
    cf2 = CuckooFilter.from_bytes(cf.to_bytes())
    assert all(cf2.contains(h) for h in hs)


def test_partitioned_cuckoo_roundtrip_and_delete():
    from fide_crawler_spark.operators.urlseen import PartitionedCuckoo

    pc = PartitionedCuckoo(4, 1 << 8)
    hs = [int(h) for h in _hashes(1500, 8)]
    for h in hs:
        assert pc.insert(h)
    pc2 = PartitionedCuckoo.from_bytes(pc.to_bytes())
    assert all(pc2.contains(h) for h in hs)
    for h in hs[:200]:
        assert pc2.delete(h)
    assert sum(pc2.contains(h) for h in hs[:200]) < 20


def test_partitioned_cuckoo_heterogeneous_part_sizes():
    """Parts resize independently → serialization must carry per-part
    sizes, not assume a uniform table."""
    from fide_crawler_spark.operators.urlseen import (
        PartitionedCuckoo,
        _grow_part_with,
    )

    pc = PartitionedCuckoo(2, 2)
    hs = _hashes(300, 9)
    pids = hs % np.uint64(2)
    pc.parts[0] = _grow_part_with(hs[pids == 0], 2)
    assert pc.parts[0].n_buckets != pc.parts[1].n_buckets
    pc2 = PartitionedCuckoo.from_bytes(pc.to_bytes())
    assert [p.n_buckets for p in pc2.parts] == [p.n_buckets for p in pc.parts]
    assert all(pc2.contains(int(h)) for h in hs[pids == 0])


def test_update_cuckoo_distributed(spark):
    """Executor-side delta insert: driver ships/receives blobs only."""
    from fide_crawler_spark.operators.urlseen import (
        PartitionedCuckoo,
        update_cuckoo,
    )

    hs = [int(h) for h in _hashes(3000, 10).astype(np.int64)]
    df = spark.createDataFrame([(h,) for h in hs], "url_hash long")
    ck = update_cuckoo(spark, df, df, PartitionedCuckoo(4, 1 << 10))
    assert all(ck.contains(h) for h in hs)
    assert not ck.contains(123456789)


def test_update_cuckoo_overflow_rebuilds_only_hot_part(spark):
    """A part that overflows is rebuilt bigger from all_hashes; the
    other parts keep their original size."""
    from fide_crawler_spark.operators.urlseen import (
        PartitionedCuckoo,
        update_cuckoo,
    )

    # all hashes in part 0 of 4 (multiples of 4) — part 0 must overflow
    hs = [4 * i for i in range(1, 400)]
    df = spark.createDataFrame([(h,) for h in hs], "url_hash long")
    base = PartitionedCuckoo(4, 2)  # capacity 8 per part
    ck = update_cuckoo(spark, df, df, base)
    assert ck.parts[0].n_buckets > 2
    assert all(p.n_buckets == 2 for p in ck.parts[1:])
    assert all(ck.contains(h) for h in hs)


# -- serialized state: deflated, legacy raw blobs still read --------------

def legacy_bloom_bytes(bf: PartitionedBloom) -> bytes:
    """The raw ``PBF1`` blob older snapshots carry: header + dense parts."""
    header = b"PBF1" + np.array([bf.n_parts, bf.bits, bf.k], dtype=np.uint64).tobytes()
    return header + b"".join(p.tobytes() for p in bf.parts)


def legacy_cuckoo_bytes(cf: CuckooFilter) -> bytes:
    """The raw ``CKF1`` blob: header + dense bucket table."""
    return b"CKF1" + np.array([cf.n_buckets], dtype=np.uint64).tobytes() + cf.table.tobytes()


def legacy_partitioned_cuckoo_bytes(pc: PartitionedCuckoo) -> bytes:
    blobs = [legacy_cuckoo_bytes(p) for p in pc.parts]
    return (
        b"PCK1" + np.array([pc.n_parts], dtype=np.uint64).tobytes()
        + np.array([len(b) for b in blobs], dtype=np.uint64).tobytes()
        + b"".join(blobs)
    )


FILLS = ["empty", "sparse", "full"]


def _bloom_at(fill: str) -> PartitionedBloom:
    """Default-sized filter: no hashes, a benchmark crawl's 144, or every
    byte random (incompressible — the worst case for the codec)."""
    bf = PartitionedBloom()
    if fill == "sparse":
        bf.add_hashes(_hashes(144, 11))
    elif fill == "full":
        rng = np.random.default_rng(12)
        bf.parts = [rng.integers(0, 256, p.size, dtype=np.uint8) for p in bf.parts]
    return bf


def _cuckoo_at(fill: str, n_buckets: int, seed: int) -> CuckooFilter:
    """Empty, 144 inserted hashes, or every slot holding a fingerprint."""
    cf = CuckooFilter(n_buckets)
    if fill == "sparse":
        for h in _hashes(144, seed):
            assert cf.insert(int(h))
    elif fill == "full":
        rng = np.random.default_rng(seed)
        cf.table = rng.integers(1, 1 << 16, cf.table.shape, dtype=np.uint16)
    return cf


def _partitioned_cuckoo_at(fill: str) -> PartitionedCuckoo:
    pc = PartitionedCuckoo()
    pc.parts = [_cuckoo_at(fill, p.n_buckets, 20 + i) for i, p in enumerate(pc.parts)]
    return pc


def _same_bloom(a: PartitionedBloom, b: PartitionedBloom) -> bool:
    return (a.n_parts, a.bits, a.k) == (b.n_parts, b.bits, b.k) and all(
        x.dtype == y.dtype and np.array_equal(x, y) for x, y in zip(a.parts, b.parts)
    )


def _same_cuckoo(a: CuckooFilter, b: CuckooFilter) -> bool:
    return a.n_buckets == b.n_buckets and a.table.dtype == b.table.dtype \
        and np.array_equal(a.table, b.table)


@pytest.mark.parametrize("fill", FILLS)
def test_bloom_state_roundtrip(fill):
    bf = _bloom_at(fill)
    blob = bf.to_bytes()
    assert blob[:4] == b"PBZ1"
    back = PartitionedBloom.from_bytes(blob)
    assert _same_bloom(back, bf)
    back.parts[0][0] ^= 1  # decoded parts are writable, private copies
    if fill != "full":
        # 1 MiB of bits: a default filter at a crawl's first few hundred
        # URLs is mostly zero words
        assert len(blob) < 16 * 1024, len(blob)


@pytest.mark.parametrize("fill", FILLS)
def test_cuckoo_state_roundtrip(fill):
    cf = _cuckoo_at(fill, 1 << 12, 13)
    blob = cf.to_bytes()
    assert blob[:4] == b"CKZ1"
    back = CuckooFilter.from_bytes(blob)
    assert _same_cuckoo(back, cf)
    back.table[0, 0] ^= 1
    if fill != "full":
        assert len(blob) < cf.table.nbytes // 16, len(blob)


@pytest.mark.parametrize("fill", FILLS)
def test_partitioned_cuckoo_state_roundtrip(fill):
    pc = _partitioned_cuckoo_at(fill)
    blob = pc.to_bytes()
    assert blob[:4] == b"PCK1"
    back = PartitionedCuckoo.from_bytes(blob)
    assert back.n_parts == pc.n_parts
    assert all(_same_cuckoo(a, b) for a, b in zip(back.parts, pc.parts))
    # update_cuckoo's tasks slice one part out of the broadcast blob
    for pid in (0, pc.n_parts - 1):
        assert _same_cuckoo(PartitionedCuckoo.part_from_bytes(blob, pid), pc.parts[pid])


@pytest.mark.parametrize("fill", ["sparse", "full"])
def test_legacy_raw_blobs_decode_bit_identical(fill):
    """Snapshots written before compression carry raw PBF1/CKF1 state;
    they decode to the same dense arrays, and re-encode to the same
    deflated blob as the filter they were written from."""
    bf = _bloom_at(fill)
    old = PartitionedBloom.from_bytes(legacy_bloom_bytes(bf))
    assert _same_bloom(old, bf)
    assert old.to_bytes() == bf.to_bytes()

    cf = _cuckoo_at(fill, 1 << 12, 14)
    old_cf = CuckooFilter.from_bytes(legacy_cuckoo_bytes(cf))
    assert _same_cuckoo(old_cf, cf)
    assert old_cf.to_bytes() == cf.to_bytes()

    pc = _partitioned_cuckoo_at(fill)
    blob = legacy_partitioned_cuckoo_bytes(pc)
    assert all(
        _same_cuckoo(a, b)
        for a, b in zip(PartitionedCuckoo.from_bytes(blob).parts, pc.parts)
    )
    assert _same_cuckoo(PartitionedCuckoo.part_from_bytes(blob, 3), pc.parts[3])


def test_filter_blobs_reject_unknown_magic_and_truncation():
    blob = _bloom_at("sparse").to_bytes()
    with pytest.raises(ValueError):
        PartitionedBloom.from_bytes(b"XXXX" + blob[4:])
    with pytest.raises(ValueError):  # legacy body cut short
        PartitionedBloom.from_bytes(legacy_bloom_bytes(_bloom_at("sparse"))[:-8])
    cblob = _cuckoo_at("sparse", 1 << 10, 15).to_bytes()
    with pytest.raises(ValueError):
        CuckooFilter.from_bytes(b"PBZ1" + cblob[4:])


@pytest.mark.parametrize(
    "decode",
    [PartitionedCuckoo.from_bytes, lambda b: PartitionedCuckoo.part_from_bytes(b, 0)],
    ids=["from_bytes", "part_from_bytes"],
)
def test_partitioned_cuckoo_rejects_bad_header(decode):
    """A bad PCK1 header raises ValueError (not assert, which
    ``python -O`` strips) through both entry points, whichever part is
    asked for."""
    blob = _partitioned_cuckoo_at("sparse").to_bytes()
    with pytest.raises(ValueError, match="header"):
        decode(b"JUNK" + blob[4:])
    with pytest.raises(ValueError, match="header"):
        decode(blob[:8])  # cut inside the part count
    with pytest.raises(ValueError, match="length table"):
        decode(blob[:12 + 8 * 3])  # 8 parts, 3 lengths
    with pytest.raises(ValueError, match="length table says"):
        decode(blob[:-16])  # the last part's body cut short


def test_partitioned_cuckoo_part_out_of_range():
    blob = _partitioned_cuckoo_at("empty").to_bytes()
    for pid in (-1, 8):
        with pytest.raises(ValueError, match="out of range"):
            PartitionedCuckoo.part_from_bytes(blob, pid)


# -- Spark-side build and probe -------------------------------------------

def _url_hashes(spark, n: int, seed: int):
    """(url, url_hash) rows; xxhash64 is negative for about half."""
    rng = np.random.default_rng(seed)
    urls = [f"https://h{rng.integers(4)}.example/p/{i}" for i in range(n)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return df.withColumn("url_hash", F.xxhash64("url"))


def _u64(signed_hashes) -> np.ndarray:
    """Spark's signed longs as the uint64 bit patterns numpy hashes."""
    return np.array(signed_hashes, dtype=np.int64).astype(np.uint64)


@pytest.mark.parametrize(
    "n_parts,bits,k", [(8, 1 << 20, 5), (4, 1 << 10, 3), (2, 3 * 64, 2)]
)
def test_build_bloom_bytes_equal_numpy_add_hashes(spark, n_parts, bits, k):
    df = _url_hashes(spark, 3000, n_parts)
    hashes = np.array(
        [r[0] for r in df.select("url_hash").collect()], dtype=np.int64
    )
    extremes = np.array([-1, np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0])
    hashes = np.concatenate([hashes, extremes])
    assert (hashes < 0).sum() > 1000
    hdf = spark.createDataFrame([(int(h),) for h in hashes], "url_hash long")

    ref = PartitionedBloom(n_parts, bits, k)
    ref.add_hashes(hashes.astype(np.uint64))
    got = build_bloom(hdf, "url_hash", n_parts, bits, k)
    assert got.to_bytes() == ref.to_bytes()


def test_bloom_bits_must_be_whole_words():
    with pytest.raises(AssertionError):
        PartitionedBloom(n_parts=4, bits_per_part=1000)


def _plan_nodes(spark, df) -> list[str]:
    """Node names of df's physical plan, descending into each cached
    relation's plan once however often it is scanned."""
    seen: set[int] = set()

    def walk(plan) -> list[str]:
        name = plan.nodeName()
        out = [name]
        if name == "AdaptiveSparkPlan":
            return out + walk(plan.inputPlan())
        if name == "InMemoryTableScan":
            rel = plan.relation()
            key = spark._jvm.System.identityHashCode(rel.cacheBuilder())
            if key not in seen:
                seen.add(key)
                out += walk(rel.cachedPlan())
        children = plan.children()
        for i in range(children.size()):
            out += walk(children.apply(i))
        return out

    return walk(df._jdf.queryExecution().executedPlan())


def test_build_bloom_runs_no_python(spark, monkeypatch):
    df = _url_hashes(spark, 200, 1).select("url_hash")
    nodes = _plan_nodes(spark, _bloom_words(df, "url_hash", 8, 1 << 12, 5))
    assert not [n for n in nodes if "Python" in n or "Pandas" in n], nodes

    def no_python(*a, **kw):
        raise AssertionError("build_bloom must not call mapInPandas")

    monkeypatch.setattr(type(df), "mapInPandas", no_python)
    bf = build_bloom(df, "url_hash", 8, 1 << 12, 5)
    assert bf.might_contain(_u64([r[0] for r in df.collect()])).all()


def _frontier_with_false_positives(spark):
    """Candidates of all three kinds: seen, unseen but Bloom-positive
    (256-bit parts make false positives common), Bloom-negative."""
    rows = _url_hashes(spark, 400, 7).collect()
    seen_rows, cand_rows = rows[:150], rows[100:]
    bloom = PartitionedBloom(n_parts=2, bits_per_part=64 * 4, k=2)
    bloom.add_hashes(_u64([r["url_hash"] for r in seen_rows]))
    seen = spark.createDataFrame(seen_rows)
    cand = spark.createDataFrame(cand_rows)
    maybe = bloom.might_contain(_u64([r["url_hash"] for r in cand_rows]))
    seen_urls = {r["url"] for r in seen_rows}
    fp = sum(m and r["url"] not in seen_urls for m, r in zip(maybe, cand_rows))
    assert fp > 0 and (~maybe).sum() > 0
    return cand, seen, bloom


def test_filter_unseen_equals_exact_anti_join(spark):
    cand, seen, bloom = _frontier_with_false_positives(spark)
    exact = cand.join(seen.select("url_hash"), "url_hash", "left_anti")
    want = sorted(map(tuple, exact.select(*cand.columns).collect()))
    caches: list = []
    try:
        got = filter_unseen(spark, cand, seen, bloom, caches=caches)
        assert sorted(map(tuple, got.select(*cand.columns).collect())) == want
    finally:
        for c in caches:
            c.unpersist()


def test_filter_unseen_probes_each_candidate_once(spark):
    """The union's two branches and the anti-join's inferred filter on
    the seen side would each run the pandas probe over an uncached
    probe column; cached, the plan holds one probe."""
    cand, seen, bloom = _frontier_with_false_positives(spark)
    caches: list = []
    try:
        out = filter_unseen(spark, cand, seen, bloom, caches=caches)
        assert len(caches) == 1
        assert _plan_nodes(spark, out).count("ArrowEvalPython") == 1
    finally:
        for c in caches:
            c.unpersist()
