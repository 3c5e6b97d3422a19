"""SnapshotTable upsert semantics + scalar function helpers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fide_crawler_spark.functions import (
    data_uri_bytes,
    digits_only,
    lev_ratio,
    month_start,
    points_games_str,
    profile_id,
)
from fide_crawler_spark.sources.snapshot import SnapshotTable, upsert


def test_upsert_merge_semantics(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "players"))
    base = spark.createDataFrame(
        [("1", "Magnus", 2830), ("2", "Hikaru", 2780)],
        "fide_id string, name string, rating int",
    )
    upsert(t, spark, base, "fide_id")
    updates = spark.createDataFrame(
        [("2", "Hikaru", 2790), ("3", "Gukesh", 2770)],
        "fide_id string, name string, rating int",
    )
    upsert(t, spark, updates, "fide_id")
    got = {r["fide_id"]: r["rating"] for r in t.read(spark).collect()}
    assert got == {"1": 2830, "2": 2790, "3": 2770}
    # time travel: snapshot 0 still shows the pre-merge state
    old = {r["fide_id"]: r["rating"] for r in t.read(spark, 0).collect()}
    assert old == {"1": 2830, "2": 2780}


@pytest.fixture(scope="module")
def one(spark):
    return spark.range(1)


def test_profile_id_and_digits(one):
    r = one.select(
        profile_id(F.lit("https://ratings.fide.com/profile/1503014")).alias("a"),
        profile_id(F.lit("https://fide.com/news/123")).alias("none"),
        digits_only(F.lit("2,830 pts")).alias("d"),
    ).first()
    assert r["a"] == "1503014" and r["none"] == "" and r["d"] == "2830"


def test_data_uri_bytes(one):
    import base64

    payload = base64.b64encode(b"hello").decode()
    r = one.select(
        data_uri_bytes(F.lit(f"data:image/png;base64,{payload}")).alias("b")
    ).first()
    assert bytes(r["b"]) == b"hello"


def test_lev_ratio_matches_definition(one):
    # lev.ratio('menorca open', 'menorca opens'): la+lb=25, dist=1 (insert,
    # weight 1 in the (la+lb-2d)... definitional check vs a hand value
    r = one.select(lev_ratio(F.lit("abcd"), F.lit("abxd")).alias("r")).first()
    assert abs(r["r"] - (8 - 2 * 1) / 8) < 1e-9


def test_month_start_and_points_str(one):
    r = one.select(
        month_start(F.lit("2023-05-17").cast("date")).alias("m"),
        points_games_str(F.lit(6.0), F.lit(7)).alias("a"),
        points_games_str(F.lit(5.5), F.lit(9)).alias("b"),
    ).first()
    assert str(r["m"]) == "2023-05-01"
    assert r["a"] == "6/7" and r["b"] == "5.5/9"


def test_lev_ratio_exact_matches_definition(spark):
    """lev.ratio (sub cost 2) == 2*LCS/(la+lb): indel case where the JVM
    approximation under-scores."""
    from fide_crawler_spark.functions import lev_ratio_exact

    df = spark.createDataFrame(
        [("abc", "ab"), ("menorca open", "menorca opens"), ("abcd", "abxd"),
         ("", ""), ("a", "b")],
        "a string, b string",
    )
    got = {(r["a"], r["b"]): r["r"] for r in
           df.select("a", "b", lev_ratio_exact("a", "b").alias("r")).collect()}
    assert abs(got[("abc", "ab")] - 4 / 5) < 1e-9          # lev.ratio = 0.8
    assert abs(got[("menorca open", "menorca opens")] - 24 / 25) < 1e-9
    assert abs(got[("abcd", "abxd")] - 6 / 8) < 1e-9        # sub-only case
    assert got[("", "")] == 1.0
    assert got[("a", "b")] == 0.0


def test_partition_overwrite_rewrites_only_touched(spark, tmp_path):
    """Dynamic-partition commits: snapshot N+1 writes ONE new file set
    containing only the updated partitions; others carry forward by
    manifest reference to the parent's file set, and the parent's now
    stale copies of the updated partition are masked on read."""
    from fide_crawler_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "pt"))
    full = spark.createDataFrame(
        [(p, u, "pending") for p in ("a", "b", "c") for u in range(4)],
        "period string, u long, status string",
    )
    t.commit_partition_overwrite(full, "period")
    upd = spark.createDataFrame(
        [("b", u, "fetched") for u in range(4)], "period string, u long, status string"
    )
    t.commit_partition_overwrite(upd, "period")

    parts = t.manifest()["partitions"]
    assert parts["b"].startswith("snap-00001/")
    assert parts["a"].startswith("snap-00000/") and parts["c"].startswith("snap-00000/")
    # the new file set holds only the touched partition's rows
    assert spark.read.parquet(f"{t.root}/snap-00001/data").count() == 4

    cur = t.read(spark)
    assert cur.count() == 12  # snap-00000's stale 'b' rows are masked
    got = {r["period"]: r["status"] for r in cur.select("period", "status").distinct().collect()}
    assert got == {"a": "pending", "b": "fetched", "c": "pending"}
    # time travel: the pre-update view still shows everything pending
    assert t.read(spark, 0).filter("status = 'fetched'").count() == 0


def test_partition_overwrite_refuses_unpartitioned_parent(spark, tmp_path):
    import pytest

    from fide_crawler_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "plain"))
    df = spark.createDataFrame([("a", 1)], "period string, u long")
    t.commit(df)
    with pytest.raises(ValueError, match="unpartitioned parent"):
        t.commit_partition_overwrite(df, "period")


def test_epoch_commit_touches_only_dequeued_periods(spark, tmp_path):
    """The scheduler's frontier commit is a touched-partition rewrite:
    an epoch that dequeues two months writes a file set holding exactly
    those two periods' rows; the other four carry forward by manifest
    reference."""
    from fide_crawler_spark.fixtures import seed_frontier_rows
    from fide_crawler_spark.operators.scheduler import CrawlJob

    rows = seed_frontier_rows(["4040404"], "2023-01-01", 6)
    j = CrawlJob(spark, str(tmp_path / "touch"), budget_per_host=2)
    j.init(spark.createDataFrame(rows))
    j.run_epoch()

    parts = j.frontier_tbl.manifest()["partitions"]
    assert parts["2023-01-01"].startswith("snap-00001/")
    assert parts["2023-02-01"].startswith("snap-00001/")
    assert parts["2023-03-01"].startswith("snap-00000/")
    new_rows = spark.read.parquet(f"{j.frontier_tbl.root}/snap-00001/data")
    assert sorted(r["period"] for r in new_rows.select("period").collect()) == [
        "2023-01-01", "2023-02-01"
    ]
    # table view stays complete and consistent
    fr = j.frontier_tbl.read(spark)
    assert fr.count() == 6
    assert fr.filter("status = 'fetched'").count() == 2


def test_read_changes_incremental_scan(spark, tmp_path):
    """Manifest-diff incremental read: exactly the rows of commits after
    from_snap, no data scan of the old files."""
    from fide_crawler_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "inc"))
    s0 = t.commit(spark.range(0, 5).withColumnRenamed("id", "v"), mode="append")
    s1 = t.commit(spark.range(5, 8).withColumnRenamed("id", "v"), mode="append")
    s2 = t.commit(spark.range(8, 10).withColumnRenamed("id", "v"), mode="append")

    delta = t.read_changes(spark, s0)
    assert sorted(r["v"] for r in delta.collect()) == [5, 6, 7, 8, 9]
    delta01 = t.read_changes(spark, s0, s1)
    assert sorted(r["v"] for r in delta01.collect()) == [5, 6, 7]
    assert t.read_changes(spark, s2).count() == 0


def test_compact_appends_and_time_travel(spark, tmp_path):
    """Compaction rewrites N file-sets into one snapshot; pre-compaction
    snapshots still read (their files are never deleted)."""
    from fide_crawler_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "cmp"))
    for lo in range(0, 12, 4):
        t.commit(spark.range(lo, lo + 4).withColumnRenamed("id", "v"), mode="append")
    pre = t.latest()
    snap = t.compact(spark, target_partitions=2)
    m = t.manifest(snap)
    assert m["metrics"]["compacted_from_filesets"] == 3
    assert len(m["data_paths"]) == 1
    assert sorted(r["v"] for r in t.read(spark).collect()) == list(range(12))
    # time travel to pre-compaction snapshot unaffected
    assert t.read(spark, pre).count() == 12


def test_compact_preserves_partition_map(spark, tmp_path):
    from fide_crawler_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "cmp_pt"))
    df = spark.createDataFrame(
        [(p, u) for p in ("a", "b") for u in range(3)], "period string, u long"
    )
    t.commit_partition_overwrite(df, "period")
    t.compact(spark)
    assert set(t.manifest()["partitions"]) == {"a", "b"}
    # partition commits still work post-compaction
    upd = spark.createDataFrame([("a", 99)], "period string, u long")
    t.commit_partition_overwrite(upd, "period")
    cur = t.read(spark)
    assert cur.filter("period = 'a'").count() == 1
    assert cur.filter("period = 'b'").count() == 3


def test_incremental_docs_after_epoch(spark, tmp_path):
    """CrawlJob.read_new_documents returns exactly the docs of epochs
    after the given docs-table snapshot."""
    from fide_crawler_spark.fixtures import seed_frontier_rows
    from fide_crawler_spark.operators.scheduler import CrawlJob

    rows = seed_frontier_rows(["5150515"], "2023-01-01", 4)
    j = CrawlJob(spark, str(tmp_path / "incdocs"), budget_per_host=2)
    j.init(spark.createDataFrame(rows))
    j.run_epoch()
    snap1 = j.docs_tbl.latest()
    first = {r["doc_id"] for r in j.docs_tbl.read(spark).select("doc_id").collect()}
    j.run_epoch()
    delta = {r["doc_id"] for r in j.read_new_documents(snap1).select("doc_id").collect()}
    assert len(delta) == 2 and not (delta & first)


def test_plain_commit_refused_on_partitioned_table(spark, tmp_path):
    """Both directions of layout mixing are refused: partitioned commit
    on a plain parent, and plain data commit on a partitioned parent
    (either would unmask stale rows or drop data)."""
    import pytest

    from fide_crawler_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "mixed"))
    df = spark.createDataFrame([("a", 1)], "period string, u long")
    t.commit_partition_overwrite(df, "period")
    with pytest.raises(ValueError, match="partitioned table"):
        t.commit(df, mode="overwrite")
    with pytest.raises(ValueError, match="partitioned table"):
        t.commit(df, mode="append")
    # metadata-only commits still fine (state updates carry the map)
    snap = t.commit(None, metrics={"x": 1})
    assert t.manifest(snap)["partitions"] == {"a": "snap-00000/data"}


def test_expire_keeps_referenced_append_chain_filesets(spark, tmp_path):
    """Expiring an append chain's history keeps the latest snapshot
    byte-identical: old snapshots lose visibility (manifest gone) but
    their file sets survive while the surviving manifest references
    them."""
    import os

    t = SnapshotTable(str(tmp_path / "exp"))
    for lo in range(0, 12, 4):
        t.commit(
            spark.range(lo, lo + 4).withColumnRenamed("id", "v"),
            mode="append",
        )
    before = sorted(r["v"] for r in t.read(spark).collect())
    out = t.expire_snapshots(keep_last=1)
    assert out["expired"] == [0, 1] and out["removed_filesets"] == []
    assert t.snapshots() == [2]
    with pytest.raises(FileNotFoundError):
        t.manifest(0)
    # referenced data dirs survive, read is unchanged
    assert os.path.isdir(tmp_path / "exp" / "snap-00000" / "data")
    assert sorted(r["v"] for r in t.read(spark).collect()) == before


def test_expire_removes_unreferenced_overwrite_history(spark, tmp_path):
    import os

    t = SnapshotTable(str(tmp_path / "exp2"))
    t.commit(spark.range(0, 4).withColumnRenamed("id", "v"))
    t.commit(spark.range(10, 14).withColumnRenamed("id", "v"))
    out = t.expire_snapshots(keep_last=1)
    assert out["removed_filesets"] == ["snap-00000/data"]
    assert not os.path.exists(tmp_path / "exp2" / "snap-00000")
    assert sorted(r["v"] for r in t.read(spark).collect()) == [10, 11, 12, 13]


def test_expire_keep_last_two_and_guard(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "exp3"))
    for i in range(3):
        t.commit(spark.range(i, i + 2).withColumnRenamed("id", "v"))
    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)
    t.expire_snapshots(keep_last=2)
    assert t.snapshots() == [1, 2]
    assert t.read(spark, 1).count() == 2  # surviving time travel intact


def test_expire_collects_orphans_once_unreferenced(spark, tmp_path):
    """Two-step lifecycle: expiry of an append chain leaves referenced
    orphan data dirs; after an overwrite drops the references, the next
    expiry collects them."""
    import os

    t = SnapshotTable(str(tmp_path / "exp4"))
    t.commit(spark.range(0, 4).withColumnRenamed("id", "v"), mode="append")
    t.commit(spark.range(4, 8).withColumnRenamed("id", "v"), mode="append")
    t.expire_snapshots(keep_last=1)  # snap-00000 orphaned but referenced
    assert os.path.isdir(tmp_path / "exp4" / "snap-00000" / "data")
    t.commit(spark.range(9, 10).withColumnRenamed("id", "v"))  # overwrite
    out = t.expire_snapshots(keep_last=1)
    assert "snap-00000/data" in out["removed_filesets"]
    assert not os.path.exists(tmp_path / "exp4" / "snap-00000")
    assert [r["v"] for r in t.read(spark).collect()] == [9]


def test_expire_partitioned_table_masked_reads_survive(spark, tmp_path):
    """Partition-overwrite chains: expiry keeps every file set the
    surviving partition map references and the masked read is
    unchanged."""
    t = SnapshotTable(str(tmp_path / "exp5"))
    df = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k long, p string, v long"
    )
    t.commit_partition_overwrite(df, "p")
    t.commit_partition_overwrite(
        spark.createDataFrame([(3, "a", 2)], "k long, p string, v long"), "p"
    )
    before = sorted(map(tuple, t.read(spark).collect()))
    out = t.expire_snapshots(keep_last=1)
    assert out["expired"] == [0]
    # snap-00000/data still referenced by partition 'b'
    assert out["removed_filesets"] == []
    assert sorted(map(tuple, t.read(spark).collect())) == before


def test_schema_evolution_append_adds_column(spark, tmp_path):
    """Iceberg add-column semantics: a later append carrying a new
    column reads back as the union of columns, older rows NULL in the
    added one — and an identical-schema chain keeps the plain
    (no-mergeSchema) read."""
    t = SnapshotTable(str(tmp_path / "evo"))
    t.commit(
        spark.createDataFrame([(1, "a")], "k long, v string"), mode="append"
    )
    m0 = t.manifest()
    assert len(set(m0["fileset_schemas"].values())) == 1
    t.commit(
        spark.createDataFrame(
            [(2, "b", 7.5)], "k long, v string, score double"
        ),
        mode="append",
    )
    m1 = t.manifest()
    assert len(set(m1["fileset_schemas"].values())) == 2
    got = {r["k"]: (r["v"], r["score"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b", 7.5)}
    # time travel to the pre-evolution snapshot: old schema only
    assert t.read(spark, 0).columns == ["k", "v"]


def test_schema_evolution_partitioned_masked_read(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "evo2"))
    t.commit_partition_overwrite(
        spark.createDataFrame([(1, "p1", "x"), (2, "p2", "y")],
                              "k long, p string, v string"),
        "p",
    )
    t.commit_partition_overwrite(
        spark.createDataFrame([(3, "p1", "z", 9)],
                              "k long, p string, v string, extra long"),
        "p",
    )
    rows = {r["k"]: (r["p"], r["v"], r["extra"])
            for r in t.read(spark).collect()}
    # p1 rewritten (new schema), p2 carried (old schema, extra=NULL)
    assert rows == {3: ("p1", "z", 9), 2: ("p2", "y", None)}


def test_schema_evolution_survives_compact_and_expire(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "evo3"))
    t.commit(spark.createDataFrame([(1, "a")], "k long, v string"),
             mode="append")
    t.commit(
        spark.createDataFrame([(2, "b", 1.5)],
                              "k long, v string, s double"),
        mode="append",
    )
    t.compact(spark)  # rewrite into ONE merged-schema file set
    m = t.manifest()
    assert len(set(m["fileset_schemas"].values())) == 1
    t.expire_snapshots(keep_last=1)
    got = {r["k"]: r["s"] for r in t.read(spark).collect()}
    assert got == {1: None, 2: 1.5}


def test_read_changes_across_schema_evolution(spark, tmp_path):
    """An incremental delta spanning two appends with evolved schemas
    returns the column union (old delta rows NULL in the new column)."""
    t = SnapshotTable(str(tmp_path / "evo4"))
    t.commit(spark.createDataFrame([(0, "base")], "k long, v string"),
             mode="append")
    t.commit(spark.createDataFrame([(1, "a")], "k long, v string"),
             mode="append")
    t.commit(
        spark.createDataFrame([(2, "b", 3)], "k long, v string, n long"),
        mode="append",
    )
    delta = {r["k"]: (r["v"], r["n"])
             for r in t.read_changes(spark, 0).collect()}
    assert delta == {1: ("a", None), 2: ("b", 3)}


def test_legacy_manifests_force_schema_merge(spark, tmp_path):
    """A table whose manifests predate schema tracking (no
    fileset_schemas key) must NOT take the single-footer fast path on
    multi-set reads — an evolved append would silently drop the new
    column otherwise."""
    import json
    import os

    t = SnapshotTable(str(tmp_path / "legacy"))
    t.commit(spark.createDataFrame([(1, "a")], "k long, v string"),
             mode="append")
    t.commit(
        spark.createDataFrame([(2, "b", 9)], "k long, v string, n long"),
        mode="append",
    )
    # simulate pre-upgrade manifests: strip the fingerprints
    for snap in t.snapshots():
        p = os.path.join(t._dir(snap), "manifest.json")
        with open(p) as f:
            m = json.load(f)
        m.pop("fileset_schemas", None)
        with open(p, "w") as f:
            json.dump(m, f)
    got = {r["k"]: r["n"] for r in t.read(spark).collect()}
    assert got == {1: None, 2: 9}  # column union, not a random footer
