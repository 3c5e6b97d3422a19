"""End-to-end crawl pipeline vs the sequential oracle.

North-rule invariants (BASELINE.json): span-sequence equality (kind,
text, media_ref, order), identical crawl-frontier ordering, identical
URL-seen set, under the same seed list + politeness budget; exact
resume from a snapshot after a kill.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fide_crawler_spark.fixtures import seed_frontier_rows
from fide_crawler_spark.operators.parse import reassemble_spans, explode_spans
from fide_crawler_spark.operators.politeness import (
    politeness_cap,
    politeness_cap_naive,
)
from fide_crawler_spark.operators.scheduler import CrawlJob
from fide_crawler_spark.oracle.sequential import run_oracle

SEEDS = ["1503014", "2020009", "35009192"]
START, N_MONTHS, BUDGET = "2023-01-01", 5, 4


@pytest.fixture(scope="module")
def frontier_rows():
    return seed_frontier_rows(SEEDS, START, N_MONTHS)


@pytest.fixture(scope="module")
def oracle(frontier_rows):
    return run_oracle(frontier_rows, BUDGET)


@pytest.fixture(scope="module")
def job(spark, frontier_rows, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("crawl"))
    j = CrawlJob(spark, wd, budget_per_host=BUDGET, n_salts=4)
    j.init(spark.createDataFrame(frontier_rows))
    j.run()
    return j


def spark_spans(job) -> dict[str, list[tuple]]:
    rows = job.read_documents().select("doc_id", "spans").collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in rows
    }


def test_span_sequences_match_oracle(job, oracle):
    got = spark_spans(job)
    assert set(got) == set(oracle.spans)
    for url, expected in oracle.spans.items():
        assert got[url] == expected, f"span sequence mismatch for {url}"


def test_crawl_order_matches_oracle(job, oracle):
    assert job.crawl_order() == oracle.crawl_order


def test_url_seen_set_matches_oracle(job, spark, oracle):
    fetched = {
        r["url"]
        for r in job.frontier_tbl.read(spark)
        .filter(F.col("status") == "fetched")
        .select("url")
        .collect()
    }
    assert fetched == oracle.url_seen


def test_no_url_fetched_twice(job):
    docs = job.docs_tbl.read(job.spark)
    assert docs.count() == docs.select("doc_id").distinct().count()


def test_politeness_respected_per_epoch(job, spark):
    per_epoch = (
        job.read_documents()
        .groupBy("epoch")
        .count()
        .orderBy("epoch")
        .collect()
    )
    assert all(r["count"] <= BUDGET for r in per_epoch)
    total = len(SEEDS) * N_MONTHS
    assert sum(r["count"] for r in per_epoch) == total


def test_lineage_and_metrics_recorded(job):
    m = job.frontier_tbl.manifest()
    assert m["metrics"]["pending"] == 0
    assert m["metrics"]["epoch"] >= 0
    docs_manifest = job.docs_tbl.manifest()
    assert docs_manifest["lineage"], "per-partition lineage missing"
    assert sum(p["docs"] for p in docs_manifest["lineage"]) == docs_manifest[
        "metrics"
    ]["docs"]


def test_resume_identical_to_uninterrupted(spark, frontier_rows, oracle, tmp_path):
    """Kill after epoch 0 (simulated by dropping the job object), build a
    fresh CrawlJob on the same workdir, run to completion → identical
    crawl order + spans."""
    wd = str(tmp_path / "resumable")
    j1 = CrawlJob(spark, wd, budget_per_host=BUDGET, n_salts=4)
    j1.init(spark.createDataFrame(frontier_rows))
    j1.run_epoch()
    del j1

    j2 = CrawlJob(spark, wd, budget_per_host=BUDGET, n_salts=4)
    assert j2.epoch() == 0  # resumed from snapshot, not restarted
    j2.run()
    assert j2.crawl_order() == oracle.crawl_order
    got = spark_spans(j2)
    assert got == oracle.spans


def test_shuffle_partition_invariance(spark, frontier_rows, oracle, tmp_path):
    """Execution-parallelism independence: same job at a different
    shuffle width produces identical crawl order and spans (order is a
    data property).  bench.py additionally evidences local[8] vs
    local[32]."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        j = CrawlJob(spark, str(tmp_path / "narrow"), budget_per_host=BUDGET, n_salts=2)
        j.init(spark.createDataFrame(frontier_rows))
        j.run()
        assert j.crawl_order() == oracle.crawl_order
        assert spark_spans(j) == oracle.spans
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_politeness_two_phase_equals_naive(spark, frontier_rows):
    df = spark.createDataFrame(frontier_rows)
    fast = politeness_cap(df, BUDGET, n_salts=4).select("url")
    naive = politeness_cap_naive(df, BUDGET).select("url")
    assert {r["url"] for r in fast.collect()} == {r["url"] for r in naive.collect()}


def test_span_explode_reassemble_roundtrip(spark, job):
    docs = job.read_documents().select("doc_id", "spans")
    back = reassemble_spans(explode_spans(docs))
    orig = {r["doc_id"]: r["spans"] for r in docs.collect()}
    rt = {r["doc_id"]: r["spans"] for r in back.collect()}
    assert orig == rt


def test_flaky_fetch_retries_until_complete(spark, frontier_rows, oracle, tmp_path):
    """Failed fetches stay pending with retry_count+1 and are re-dequeued
    (reference analog: infinite @retry,
    old_scripts/fide-games-scraper-public.py:48).  The final span corpus
    must still equal the oracle's — failures only defer, never drop."""
    import zlib

    wd = str(tmp_path / "flaky")
    j = CrawlJob(spark, wd, budget_per_host=BUDGET, n_salts=2, fetch_mode="flaky")
    j.init(spark.createDataFrame(frontier_rows))
    stats = j.run()
    assert any(s.get("failed", 0) > 0 for s in stats), "no failures injected?"
    assert stats[-1]["pending"] == 0
    # every URL fetched exactly once, spans identical to the oracle
    assert spark_spans(j) == oracle.spans
    # retried URLs carry retry_count == 1 in the frontier
    fr = {r["url"]: r for r in j.frontier_tbl.read(spark).collect()}
    for url in oracle.url_seen:
        expected_rc = 1 if zlib.crc32(url.encode()) % 3 == 0 else 0
        assert fr[url]["retry_count"] == expected_rc, url
        assert fr[url]["status"] == "fetched"


def test_duplicate_admission_not_refetched(spark, frontier_rows, tmp_path):
    """The URL-seen path must actually filter: after fetching everything,
    append NEW pending rows for already-fetched URLs (the
    discovered-link / re-seed case) — they must be rejected by the Bloom
    pre-pass + anti-join, not fetched twice."""
    wd = str(tmp_path / "dupadmit")
    j = CrawlJob(spark, wd, budget_per_host=BUDGET, n_salts=2)
    j.init(spark.createDataFrame(frontier_rows))
    j.run()
    n_docs_before = j.docs_tbl.read(spark).count()

    # re-admit 5 already-fetched URLs as fresh pending rows (via the
    # partition-aware commit, as the streaming admit path does)
    dup_rows = [dict(r, status="pending", epoch=-1) for r in frontier_rows[:5]]
    frontier = j.frontier_tbl.read(spark)
    dups = spark.createDataFrame(dup_rows).withColumn(
        "url_hash", F.xxhash64("url")
    ).select(*frontier.columns)
    touched = [r["period"] for r in dups.select("period").distinct().collect()]
    j.frontier_tbl.commit_partition_overwrite(
        frontier.filter(F.col("period").isin(touched)).unionByName(dups),
        "period",
        touched_values=touched,
        metrics={**j.frontier_tbl.manifest()["metrics"], "pending": 5},
        state={"urlseen-bloom.bin": j.frontier_tbl.state("urlseen-bloom.bin")},
    )
    stats = j.run_epoch()
    assert stats["dequeued"] == 0, "seen URLs must not be re-dequeued"
    assert j.docs_tbl.read(spark).count() == n_docs_before


def test_retention_bounds_history_and_preserves_output(
    spark, frontier_rows, tmp_path
):
    """retain_snapshots=2 expires frontier/doc history per epoch: the
    final corpus and frontier equal the unbounded run's, snapshot
    counts stay bounded, and append-chain doc file sets referenced by
    the surviving manifest are untouched."""
    base = CrawlJob(
        spark, str(tmp_path / "unbounded"), budget_per_host=BUDGET, n_salts=2
    )
    base.init(spark.createDataFrame(frontier_rows))
    base.run()
    j = CrawlJob(
        spark, str(tmp_path / "retained"), budget_per_host=BUDGET,
        n_salts=2, retain_snapshots=2,
    )
    j.init(spark.createDataFrame(frontier_rows))
    j.run()
    assert len(j.frontier_tbl.snapshots()) <= 2
    assert len(j.docs_tbl.snapshots()) <= 2
    assert spark_spans(j) == spark_spans(base)
    fr = lambda job: sorted(  # noqa: E731
        (r["url"], r["status"])
        for r in job.frontier_tbl.read(spark).collect()
    )
    assert fr(j) == fr(base)


def test_retention_guard_rejects_unsafe_window(spark, tmp_path):
    with pytest.raises(ValueError):
        CrawlJob(spark, str(tmp_path / "bad"), retain_snapshots=1)


def test_retention_resume_after_kill(spark, frontier_rows, tmp_path):
    """Kill mid-crawl with retention on: resume completes and matches
    the uninterrupted retained run (the loop never reads expired
    history)."""
    wd = str(tmp_path / "ret_resume")
    j1 = CrawlJob(
        spark, wd, budget_per_host=BUDGET, n_salts=2, retain_snapshots=2
    )
    j1.init(spark.createDataFrame(frontier_rows))
    j1.run_epoch()
    j1.run_epoch()  # "killed" here: a fresh job object resumes
    j2 = CrawlJob(
        spark, wd, budget_per_host=BUDGET, n_salts=2, retain_snapshots=2
    )
    j2.run()
    ref = CrawlJob(
        spark, str(tmp_path / "ret_ref"), budget_per_host=BUDGET,
        n_salts=2, retain_snapshots=2,
    )
    ref.init(spark.createDataFrame(frontier_rows))
    ref.run()
    assert spark_spans(j2) == spark_spans(ref)


def test_compaction_cycle_reclaims_doc_filesets(spark, frontier_rows, tmp_path):
    """compact_docs_every + retain_snapshots = the full storage-reclaim
    cycle: the doc table's file-set list stays bounded (compaction folds
    the append chain; the following expiry collects released sets) and
    the corpus is unchanged."""
    import os

    base = CrawlJob(
        spark, str(tmp_path / "cc_base"), budget_per_host=BUDGET, n_salts=2
    )
    base.init(spark.createDataFrame(frontier_rows))
    base.run()
    j = CrawlJob(
        spark, str(tmp_path / "cc_ret"), budget_per_host=BUDGET, n_salts=2,
        retain_snapshots=2, compact_docs_every=2,
    )
    j.init(spark.createDataFrame(frontier_rows))
    j.run()
    assert spark_spans(j) == spark_spans(base)
    m = j.docs_tbl.manifest()
    n_epochs = len(base.docs_tbl.snapshots())
    # without compaction the latest manifest references one set per
    # epoch; with the cycle it references at most the sets since the
    # last compaction
    assert len(m["data_paths"]) < n_epochs
    # and the expired+released sets are truly gone from disk
    on_disk = [
        d for d in os.listdir(str(tmp_path / "cc_ret" / "documents"))
        if d.startswith("snap-") and not d.endswith(".staging")
    ]
    assert len(on_disk) <= len(m["data_paths"]) + 2


def test_epoch_caches_released_when_dequeue_raises(
    spark, frontier_rows, oracle, tmp_path, monkeypatch
):
    """Every cache an epoch creates — the URL-seen probe result and the
    candidate set — is released when a later step of the epoch raises,
    and the job still finishes identically afterwards."""
    import fide_crawler_spark.operators.scheduler as sched

    DataFrame = type(spark.range(1))  # the concrete (classic) class

    j = CrawlJob(spark, str(tmp_path / "raise"), budget_per_host=BUDGET, n_salts=2)
    j.init(spark.createDataFrame(frontier_rows))
    j.run_epoch()  # something fetched → the next epoch runs URL-seen

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    persisted: list = []
    real_persist = DataFrame.persist

    def tracking_persist(self, *a, **kw):
        persisted.append(self)
        return real_persist(self, *a, **kw)

    def failing_dequeue(df, *a, **kw):
        df.count()  # materialize the probe and candidate caches first
        raise RuntimeError("dequeue failed")

    monkeypatch.setattr(DataFrame, "persist", tracking_persist)
    monkeypatch.setattr(sched, "dequeue_rank", failing_dequeue)
    with pytest.raises(RuntimeError, match="dequeue failed"):
        j.run_epoch()
    assert len(persisted) == 2
    assert set(jsc.getPersistentRDDs().keySet()) == before
    for df in persisted:
        level = df.storageLevel
        assert not (level.useMemory or level.useDisk)

    monkeypatch.undo()
    j.run()
    assert j.crawl_order() == oracle.crawl_order
