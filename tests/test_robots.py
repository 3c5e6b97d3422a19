"""robots.txt cache + admission filter + multi-host politeness."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from fide_crawler_spark.operators.robots import (
    _parse_robots_txt,
    _synthetic_rules,
    fetch_robots,
    robots_filter,
)
from fide_crawler_spark.operators.scheduler import CrawlJob

HOSTS = [f"h{i}.example.com" for i in range(6)]


def _multi_host_rows():
    """Frontier across 6 hosts; fide ids chosen so synthetic robots
    block a deterministic subset on crc%4==0 hosts."""
    rows = []
    pos = 0
    for host in HOSTS:
        for fid in [str(d) * 7 for d in range(1, 5)]:  # 1111111..4444444
            for m in (1, 2, 3):
                url = (
                    f"https://{host}/a_indv_calculations.php"
                    f"?id_number={fid}&rating_period=2023-{m:02d}-01&t=0"
                )
                rows.append(
                    {
                        "url": url, "host": host, "fide_id": fid,
                        "period": f"2023-{m:02d}-01", "depth": 2,
                        "host_rank": 0, "recrawl_age": 0, "seed_pos": pos,
                        "status": "pending", "retry_count": 0, "epoch": -1,
                    }
                )
            pos += 1
    return rows


def expected_blocked(url: str, host: str) -> bool:
    path = url.split(host, 1)[1]
    return any(path.startswith(r) for r in _synthetic_rules(host))


def test_parse_robots_txt():
    text = """
# comment
User-agent: Googlebot
Disallow: /only-google

User-agent: *
Disallow: /private
Disallow: /calc  # inline comment
Disallow:
Allow: /public
"""
    assert _parse_robots_txt(text) == ["/private", "/calc"]


def test_fetch_robots_one_row_per_host(spark):
    hosts = spark.createDataFrame([(h,) for h in HOSTS * 3], "host string")
    out = fetch_robots(hosts).collect()
    assert len(out) == len(HOSTS)
    for r in out:
        assert list(r["rules"]) == _synthetic_rules(r["host"])


def test_robots_filter_marks_blocked(spark):
    rows = _multi_host_rows()
    frontier = spark.createDataFrame(rows)
    robots = fetch_robots(frontier)
    marked = robots_filter(frontier, robots, mark=True)
    got = {r["url"]: r["status"] for r in marked.collect()}
    n_blocked = 0
    for row in rows:
        exp = "blocked" if expected_blocked(row["url"], row["host"]) else "pending"
        assert got[row["url"]] == exp, row["url"]
        n_blocked += exp == "blocked"
    assert n_blocked > 0, "synthetic rules blocked nothing — weak test"


@pytest.fixture(scope="module")
def robots_job(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("robots_crawl"))
    j = CrawlJob(spark, wd, budget_per_host=5, respect_robots=True)
    j.init(spark.createDataFrame(_multi_host_rows()))
    j.stats = j.run()
    return j


def test_blocked_urls_never_fetched(robots_job, spark):
    fr = robots_job.frontier_tbl.read(spark).collect()
    assert {r["status"] for r in fr} == {"fetched", "blocked"}
    fetched_docs = {
        r["doc_id"] for r in robots_job.docs_tbl.read(spark).select("doc_id").collect()
    }
    for r in fr:
        if r["status"] == "blocked":
            assert expected_blocked(r["url"], r["host"])
            assert r["url"] not in fetched_docs
        else:
            assert not expected_blocked(r["url"], r["host"])
            assert r["url"] in fetched_docs
    assert robots_job.pending_count() == 0


def test_robots_cache_snapshot_persisted(robots_job, spark):
    rules = {r["host"]: list(r["rules"])
             for r in robots_job.robots_tbl.read(spark).collect()}
    assert set(rules) == set(HOSTS)
    for h in HOSTS:
        assert rules[h] == _synthetic_rules(h)


def test_multi_host_politeness_per_epoch(robots_job, spark):
    per = (
        robots_job.read_documents()
        .groupBy("epoch", F.regexp_extract("doc_id", r"https://([^/]+)/", 1).alias("host"))
        .count()
        .collect()
    )
    assert per, "no docs?"
    assert all(r["count"] <= 5 for r in per), "per-host budget violated"
    hosts_seen = {r["host"] for r in per}
    assert len(hosts_seen) == len({h for h in HOSTS})  # every host crawled
