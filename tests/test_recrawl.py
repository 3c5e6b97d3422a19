"""Gap analysis must reproduce the reference's cache-window logic
(data_fetching_processing.py:207-245), including the mid-month edge."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from fide_crawler_spark.operators.recrawl import (
    cached_bounds,
    force_recrawl,
    gap_analysis,
)
from fide_crawler_spark.operators.urlseen import CuckooFilter


def oracle_months(start: str, end: str, db_min: str | None, db_max: str | None):
    """Sequential reimplementation of the reference's driver logic."""

    def walk(s: dt.date, e: dt.date):
        cur = s.replace(day=1)
        out = []
        while cur <= e:
            out.append(cur)
            cur = (cur.replace(day=28) + dt.timedelta(days=4)).replace(day=1)
        return out

    d = dt.date.fromisoformat
    if db_min is None:
        return walk(d(start), d(end))
    months = walk(d(start), d(db_min) - dt.timedelta(days=1))
    months += walk(d(db_max) + dt.timedelta(days=1), d(end))
    return sorted(set(months))


CASES = [
    # (start, end, db_min, db_max)
    ("2023-01-01", "2023-12-01", None, None),              # empty cache
    ("2023-01-01", "2023-12-01", "2023-04-15", "2023-08-20"),  # mid-month edges
    ("2023-01-01", "2023-12-01", "2023-04-01", "2023-08-01"),  # month-start edges
    ("2023-03-01", "2023-06-01", "2023-01-05", "2023-12-28"),  # fully cached
    ("2023-01-01", "2023-03-01", "2023-02-01", "2023-09-01"),  # before-gap only
    ("2023-06-01", "2023-12-01", "2023-01-01", "2023-08-15"),  # after-gap only
]


def test_gap_analysis_matches_oracle(spark):
    req_rows, bound_rows, expected = [], [], {}
    for i, (s, e, lo, hi) in enumerate(CASES):
        fid = f"p{i}"
        req_rows.append((fid, s, e))
        if lo is not None:
            bound_rows.append((fid, lo, hi))
        expected[fid] = oracle_months(s, e, lo, hi)
    requests = spark.createDataFrame(
        req_rows, "fide_id string, start_date string, end_date string"
    ).select(
        "fide_id",
        F.to_date("start_date").alias("start_date"),
        F.to_date("end_date").alias("end_date"),
    )
    bounds = spark.createDataFrame(
        bound_rows or [("_", "2000-01-01", "2000-01-01")],
        "fide_id string, db_min string, db_max string",
    ).select(
        "fide_id",
        F.to_date("db_min").alias("db_min"),
        F.to_date("db_max").alias("db_max"),
    )
    got: dict[str, list] = {f"p{i}": [] for i in range(len(CASES))}
    for r in gap_analysis(requests, bounds).collect():
        got[r["fide_id"]].append(r["period"])
    for fid in expected:
        assert sorted(got[fid]) == expected[fid], fid


def test_cached_bounds(spark):
    games = spark.createDataFrame(
        [("a", "2023-01-05"), ("a", "2023-03-09"), ("b", "2022-12-31")],
        "fide_id string, date string",
    ).select("fide_id", F.to_date("date").alias("date"))
    got = {r["fide_id"]: (str(r["db_min"]), str(r["db_max"]))
           for r in cached_bounds(games).collect()}
    assert got == {"a": ("2023-01-05", "2023-03-09"), "b": ("2022-12-31", "2022-12-31")}


def test_force_recrawl_readmits(spark):
    frontier = spark.createDataFrame(
        [("u1", 11, "fetched", 0), ("u2", 22, "fetched", 0), ("u3", 33, "pending", 0)],
        "url string, url_hash long, status string, recrawl_age int",
    )
    cf = CuckooFilter(1 << 8)
    for h in (11, 22, 33):
        cf.insert(h)
    urls = frontier.filter(F.col("url") == "u2").select("url", "url_hash")
    updated, cf = force_recrawl(frontier, urls, cf)
    rows = {r["url"]: r for r in updated.collect()}
    assert rows["u2"]["status"] == "pending" and rows["u2"]["recrawl_age"] == 1
    assert rows["u1"]["status"] == "fetched"
    assert not cf.contains(22) and cf.contains(11) and cf.contains(33)


def test_scheduler_force_recrawl_end_to_end(spark, tmp_path):
    """Full loop: crawl all, force-recrawl a subset via the cuckoo
    variant, re-run → re-fetched docs land in a later epoch with
    identical spans (deterministic fetcher)."""
    from fide_crawler_spark.fixtures import seed_frontier_rows
    from fide_crawler_spark.operators.scheduler import CrawlJob

    rows = seed_frontier_rows(["7700077"], "2023-01-01", 4)
    wd = str(tmp_path / "forced")
    j = CrawlJob(spark, wd, budget_per_host=8, enable_cuckoo=True)
    j.init(spark.createDataFrame(rows))
    j.run()
    docs_before = {r["doc_id"]: r["epoch"] for r in
                   j.read_documents().select("doc_id", "epoch").collect()}

    target = spark.createDataFrame(
        [(rows[0]["url"],)], "url string"
    ).select("url", F.xxhash64("url").alias("url_hash"))
    j.force_recrawl(target)
    assert j.pending_count() == 1
    j.run()

    docs = j.docs_tbl.read(spark).filter(F.col("doc_id") == rows[0]["url"])
    epochs = sorted(r["epoch"] for r in docs.select("epoch").collect())
    assert len(epochs) == 2 and epochs[1] > docs_before[rows[0]["url"]]
    # read_documents dedups to one row per doc; spans unchanged
    final = j.read_documents().filter(F.col("doc_id") == rows[0]["url"]).count()
    assert final == 1


def test_force_recrawl_noop_urls_dont_corrupt_pending(spark, tmp_path):
    """Forcing an already-pending or unknown URL must not inflate the
    derived pending metric."""
    from fide_crawler_spark.fixtures import seed_frontier_rows
    from fide_crawler_spark.operators.scheduler import CrawlJob

    rows = seed_frontier_rows(["9900099"], "2023-01-01", 3)
    wd = str(tmp_path / "noopforce")
    j = CrawlJob(spark, wd, budget_per_host=8, enable_cuckoo=True)
    j.init(spark.createDataFrame(rows))
    j.run()
    assert j.pending_count() == 0
    # unknown URL + double-force of the same fetched URL
    targets = spark.createDataFrame(
        [("https://nowhere/x",), (rows[0]["url"],), (rows[0]["url"],)],
        "url string",
    ).select("url", F.xxhash64("url").alias("url_hash"))
    j.force_recrawl(targets)
    assert j.pending_count() == 1  # only the genuine flip counts
    j.force_recrawl(targets)       # second force: row already pending
    assert j.pending_count() == 1
    j.run()
    assert j.pending_count() == 0


def test_cuckoo_overflow_rebuilds(spark, tmp_path):
    """Filling the cuckoo filter mid-crawl triggers a rebuild from the
    frontier's fetched set instead of silently dropping fingerprints."""
    from fide_crawler_spark.fixtures import seed_frontier_rows
    from fide_crawler_spark.operators import scheduler as S
    from fide_crawler_spark.operators.scheduler import CrawlJob
    from fide_crawler_spark.operators.urlseen import PartitionedCuckoo

    rows = seed_frontier_rows([str(8800000 + i) for i in range(20)], "2023-01-01", 4)
    wd = str(tmp_path / "tinycuckoo")
    j = CrawlJob(spark, wd, budget_per_host=1000, enable_cuckoo=True)
    j.init(spark.createDataFrame(rows))
    # shrink the persisted parts to 2 buckets × 4 slots each
    # (capacity 2×8 = 16 < 80) so the executor-side rebuild must fire
    tiny = PartitionedCuckoo(2, 2)
    snap = j.frontier_tbl.latest()
    import os
    with open(os.path.join(j.frontier_tbl._dir(snap), "state", S.CUCKOO_STATE), "wb") as f:
        f.write(tiny.to_bytes())
    j.run()
    ck = PartitionedCuckoo.from_bytes(j.frontier_tbl.state(S.CUCKOO_STATE))
    assert max(p.n_buckets for p in ck.parts) > 2, "no part grew"
    fetched = j.frontier_tbl.read(spark).filter(F.col("status") == "fetched")
    missing = [
        r["url_hash"] for r in fetched.select("url_hash").collect()
        if not ck.contains(int(r["url_hash"]))
    ]
    assert not missing, f"{len(missing)} fetched URLs missing from rebuilt filter"


def test_force_recrawl_never_readmits_blocked(spark):
    """A robots-'blocked' row must stay blocked under force_recrawl
    (re-admission would bypass robots), and pending rows are a no-op."""
    frontier = spark.createDataFrame(
        [("b1", 1, "blocked", 0), ("f1", 2, "fetched", 0), ("p1", 3, "pending", 0)],
        "url string, url_hash long, status string, recrawl_age int",
    )
    cf = CuckooFilter(1 << 8)
    for h in (1, 2, 3):
        cf.insert(h)
    urls = frontier.select("url", "url_hash")  # force EVERYTHING
    updated, cf = force_recrawl(frontier, urls, cf)
    rows = {r["url"]: r for r in updated.collect()}
    assert rows["b1"]["status"] == "blocked" and rows["b1"]["recrawl_age"] == 0
    assert rows["f1"]["status"] == "pending" and rows["f1"]["recrawl_age"] == 1
    assert rows["p1"]["status"] == "pending" and rows["p1"]["recrawl_age"] == 0
