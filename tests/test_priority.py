"""Priority queue semantics (north rule: host-rank, depth, recrawl-age)
and seed-URL canonicalization/admission."""

from __future__ import annotations

import pytest

from fide_crawler_spark.operators.frontier import canonicalize_profile_urls
from fide_crawler_spark.operators.scheduler import CrawlJob
from fide_crawler_spark.oracle.sequential import run_oracle


def _varied_rows():
    """Frontier with non-uniform host_rank / depth / recrawl_age so the
    priority tuple actually reorders the dequeue (uniform crawls only
    exercise the (seed_pos, period) tail)."""
    rows = []
    specs = [
        # (host, host_rank, depth, recrawl_age, fide)
        ("a.example.com", 1, 2, 0, "111"),
        ("a.example.com", 1, 1, 0, "112"),   # lower depth first
        ("b.example.com", 0, 2, 0, "211"),   # better host_rank first
        ("b.example.com", 0, 2, 5, "212"),   # higher recrawl_age first
        ("c.example.com", 2, 0, 9, "311"),
    ]
    pos = 0
    for host, hr, depth, age, fid in specs:
        for m in (1, 2):
            rows.append(
                {
                    "url": (
                        f"https://{host}/a_indv_calculations.php"
                        f"?id_number={fid}&rating_period=2023-{m:02d}-01&t=0"
                    ),
                    "host": host, "fide_id": fid,
                    "period": f"2023-{m:02d}-01", "depth": depth,
                    "host_rank": hr, "recrawl_age": age, "seed_pos": pos,
                    "status": "pending", "retry_count": 0, "epoch": -1,
                }
            )
        pos += 1
    return rows


@pytest.mark.parametrize("budget", [2, 3])
def test_priority_crawl_order_matches_oracle(spark, tmp_path, budget):
    rows = _varied_rows()
    oracle = run_oracle(rows, budget)
    j = CrawlJob(spark, str(tmp_path / f"prio{budget}"), budget_per_host=budget)
    j.init(spark.createDataFrame(rows))
    j.run()
    assert j.crawl_order() == oracle.crawl_order
    # sanity on the semantics themselves: host_rank 0 beats 1 beats 2,
    # and within b.example.com the aged row comes first
    order = oracle.crawl_order
    assert order[0].find("212") > -1 or order[0].find("211") > -1
    first_a = min(i for i, u in enumerate(order) if "a.example" in u)
    first_c = min(i for i, u in enumerate(order) if "c.example" in u)
    assert first_a < first_c  # host_rank 1 before host_rank 2
    assert "112" in order[first_a]  # depth 1 before depth 2 within host a
    idx211 = min(i for i, u in enumerate(order) if "id_number=211" in u)
    idx212 = min(i for i, u in enumerate(order) if "id_number=212" in u)
    assert idx212 < idx211  # recrawl_age desc within host b


def test_with_priority_rank_matches_window_form_without_window_exec(spark):
    """The public priority-queue API must produce window-identical
    ranks WITHOUT planning an unpartitioned WindowExec (one-task
    collapse at frontier scale) — it delegates to the two-pass
    grouped_rank."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fide_crawler_spark.operators.frontier import (
        priority_order,
        with_priority_rank,
    )

    rows = _varied_rows()
    df = spark.createDataFrame(rows).repartition(5)
    caches: list = []
    got = with_priority_rank(df, caches=caches)
    try:
        got_ranks = {r["url"]: r["rank"] for r in got.collect()}
        plan = got._jdf.queryExecution().executedPlan().toString()
    finally:
        for c in caches:
            c.unpersist()
    expect = {
        r["url"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy(*priority_order()))
        ).collect()
    }
    assert got_ranks == expect
    assert "Window" not in plan, plan


def test_canonicalize_profile_urls(spark):
    """B10 admission filter + H1 canonicalization
    (data_fetching_processing.py:64-68)."""
    urls = spark.createDataFrame(
        [
            ("https://fide.com/profile/1503014",),
            ("https://ratings.fide.com/profile/2020009/chart",),
            ("https://fide.com/news/profile-interview/123",),  # news → reject
            ("https://fide.com/calendar",),                     # no profile
            ("https://fide.com/profile/abc",),                  # no numeric id
        ],
        "url string",
    )
    got = {r["fide_id"]: r["url"] for r in canonicalize_profile_urls(urls).collect()}
    assert got == {
        "1503014": "https://ratings.fide.com/profile/1503014",
        "2020009": "https://ratings.fide.com/profile/2020009",
    }
