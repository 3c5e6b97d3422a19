"""Streaming (foreachBatch) crawl == batch crawl, bit for bit."""

from __future__ import annotations

import json
import os

from fide_crawler_spark.fixtures import seed_frontier_rows
from fide_crawler_spark.operators.scheduler import CrawlJob
from fide_crawler_spark.oracle.sequential import run_oracle
from fide_crawler_spark.streaming.crawl_stream import start_streaming_crawl

SEEDS = ["4040404", "5050505"]
BUDGET = 4


def test_streaming_crawl_matches_batch_and_oracle(spark, tmp_path):
    rows = seed_frontier_rows(SEEDS, "2023-01-01", 4)
    # two seed files → two micro-batches (second arrives after the first
    # has been fully crawled, including overlapping URLs to dedup)
    seed_dir = str(tmp_path / "seeds")
    os.makedirs(seed_dir)
    half = len(rows) // 2
    overlap = rows[half - 2 : half]  # already-crawled URLs re-discovered
    with open(f"{seed_dir}/batch0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows[:half]))
    with open(f"{seed_dir}/batch1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows[half:] + overlap))

    job = CrawlJob(spark, str(tmp_path / "wd"), budget_per_host=BUDGET)
    q = start_streaming_crawl(job, seed_dir, str(tmp_path / "ckpt"), max_files=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    oracle = run_oracle(rows, BUDGET)
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in job.read_documents().select("doc_id", "spans").collect()
    }
    assert got == oracle.spans  # same corpus, no dup fetches for overlap
    assert job.pending_count() == 0
    docs = job.docs_tbl.read(spark)
    assert docs.count() == docs.select("doc_id").distinct().count()


def test_streaming_crawl_with_cuckoo_and_robots(spark, tmp_path):
    """Second review's regressions: streamed micro-batches must carry
    the cuckoo sidecar forward AND apply robots admission to every
    batch (not just init)."""
    from pyspark.sql import functions as F

    from fide_crawler_spark.operators.robots import _synthetic_rules

    # single-host frontier on a robots-blocking host: crc%4==0 hosts
    # block ids starting with a specific digit
    import zlib
    host = next(
        h for h in (f"rb{i}.example.com" for i in range(50))
        if zlib.crc32(h.encode()) % 4 == 0
    )
    digit = (zlib.crc32(host.encode()) // 4) % 4 + 1
    blocked_fid = str(digit) * 7
    ok_fid = str((digit % 4) + 1) * 7

    def mk(fid, pos):
        return [
            {
                "url": (
                    f"https://{host}/a_indv_calculations.php"
                    f"?id_number={fid}&rating_period=2023-{m:02d}-01&t=0"
                ),
                "host": host, "fide_id": fid, "period": f"2023-{m:02d}-01",
                "depth": 2, "host_rank": 0, "recrawl_age": 0, "seed_pos": pos,
                "status": "pending", "retry_count": 0, "epoch": -1,
            }
            for m in (1, 2)
        ]

    seed_dir = str(tmp_path / "seeds2")
    os.makedirs(seed_dir)
    with open(f"{seed_dir}/b0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in mk(ok_fid, 0)))
    with open(f"{seed_dir}/b1.json", "w") as f:  # later batch: blocked fid
        f.write("\n".join(json.dumps(r) for r in mk(blocked_fid, 1)))

    job = CrawlJob(
        spark, str(tmp_path / "wd2"), budget_per_host=8,
        enable_cuckoo=True, respect_robots=True,
    )
    q = start_streaming_crawl(job, seed_dir, str(tmp_path / "ckpt2"), max_files=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    fr = {(r["fide_id"], r["period"]): r["status"]
          for r in job.frontier_tbl.read(spark).collect()}
    assert all(fr[(ok_fid, p)] == "fetched" for p in ("2023-01-01", "2023-02-01"))
    assert all(fr[(blocked_fid, p)] == "blocked" for p in ("2023-01-01", "2023-02-01"))
    # cuckoo sidecar survived the streamed commits
    from fide_crawler_spark.operators import scheduler as S
    from fide_crawler_spark.operators.urlseen import PartitionedCuckoo

    ck = PartitionedCuckoo.from_bytes(job.frontier_tbl.state(S.CUCKOO_STATE))
    fetched_hashes = [
        int(r["url_hash"]) for r in job.frontier_tbl.read(spark)
        .filter(F.col("status") == "fetched").select("url_hash").collect()
    ]
    assert fetched_hashes and all(ck.contains(h) for h in fetched_hashes)


def test_blocked_metric_survives_epochs(spark, tmp_path):
    """'blocked' must accumulate across admits even when crawl epochs
    run in between (epoch commits previously reset it to 0)."""
    import zlib
    host = next(
        h for h in (f"bm{i}.example.com" for i in range(50))
        if zlib.crc32(h.encode()) % 4 == 0
    )
    digit = (zlib.crc32(host.encode()) // 4) % 4 + 1
    blocked_fid, ok_fid = str(digit) * 7, str((digit % 4) + 1) * 7

    def mk(fid, month, pos):
        return {
            "url": (f"https://{host}/a_indv_calculations.php"
                    f"?id_number={fid}&rating_period=2023-{month:02d}-01&t=0"),
            "host": host, "fide_id": fid, "period": f"2023-{month:02d}-01",
            "depth": 2, "host_rank": 0, "recrawl_age": 0, "seed_pos": pos,
            "status": "pending", "retry_count": 0, "epoch": -1,
        }

    seed_dir = str(tmp_path / "seeds3")
    os.makedirs(seed_dir)
    # batch 0: one blocked + one ok; batch 1 (after epochs ran): another blocked
    with open(f"{seed_dir}/b0.json", "w") as f:
        f.write(json.dumps(mk(blocked_fid, 1, 0)) + "\n" + json.dumps(mk(ok_fid, 1, 1)))
    with open(f"{seed_dir}/b1.json", "w") as f:
        f.write(json.dumps(mk(blocked_fid, 2, 0)))

    job = CrawlJob(spark, str(tmp_path / "wd3"), budget_per_host=8,
                   respect_robots=True)
    q = start_streaming_crawl(job, seed_dir, str(tmp_path / "ckpt3"), max_files=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    m = job.frontier_tbl.manifest()["metrics"]
    assert m["blocked"] == 2, m
