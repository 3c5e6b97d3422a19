"""Player-profile pipeline: profile page → ``player_data`` record.

The reference's second data product (SURVEY §2 rows A2/J-2):
``scrapePlayerData`` fetches ``/profile/{fide_id}`` and safe-extracts a
flat record (``data_processing/data_fetching_processing.py:92-116``)
stored in the ``player_data`` table (all TEXT, fide_id primary key —
``database/database_management.py:8-24``) and rendered as the app's
profile header (``ui/streamlit_ui.py:93-128``).

Spark-first shape: the page never becomes a Spark column — fetch and
parse are fused into ONE ``mapInPandas`` stage (scalar-to-struct: 1 URL
row in → 1 typed record out), exactly like the games-history hot path
(`operators/parse.fetch_parse_stage`).  Everything downstream is
relational: MERGE-style upsert into a versioned snapshot table (A9) and
broadcast joins against game analytics (C1).

The seed-search stage (``fetch_players``,
``data_fetching_processing.py:30-78``) is the crawl's optional entry
point: query → search page → member-block parse → admission/
canonicalization (`operators/frontier.canonicalize_profile_urls`) →
seed fide_ids in result order.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fide_crawler_spark.fixtures import (
    PROFILE_FIELDS,
    parse_profile_page,
    parse_search_page,
    render_profile_page,
    render_search_page,
)

PROFILE_SCHEMA = ", ".join(f"{c} string" for c in PROFILE_FIELDS)

SEARCH_SCHEMA = "name string, title string, url string, result_pos int"


def fetch_profile_stage(urls: DataFrame, mode: str = "synthetic") -> DataFrame:
    """Fused fetch+parse over profile URLs: (url) → player_data row.

    Scalar-to-struct UDTF shape (SURVEY §2.J row 2): one Arrow round
    trip, page bodies live only inside the Python worker.  ``mode``
    mirrors the crawl's fused stage — synthetic is the deterministic
    no-network kernel; http is the real-crawl hook (the batch fetch in
    `sources/fetcher.py`).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            if mode == "synthetic":
                pages = [render_profile_page(u.rsplit("/", 1)[-1]) for u in pdf["url"]]
                statuses = ["fetched"] * len(pages)
            else:
                from fide_crawler_spark.sources.fetcher import _http_fetch_batch

                fetched = _http_fetch_batch(pdf["url"])
                pages, statuses = list(fetched["page"]), list(fetched["status"])
            recs = []
            for url, page, st in zip(pdf["url"], pages, statuses):
                if st != "fetched":
                    # a failed fetch must NOT become a ghost all-empty
                    # record — upserting one would destroy a good row
                    # for the same fide_id (swallow-and-skip, the
                    # reference's error handling at
                    # data_fetching_processing.py:195-196)
                    continue
                recs.append(parse_profile_page(url.rsplit("/", 1)[-1], page))
            if recs:
                yield pd.DataFrame(recs, columns=PROFILE_FIELDS)

    return urls.select("url").mapInPandas(run, schema=PROFILE_SCHEMA)


def profiles_for_ids(
    spark: SparkSession, fide_ids: DataFrame, fetch_partitions: int | None = None
) -> DataFrame:
    """fide_id column → player_data records via the fused stage (the
    `fetch_player_data` surface, data_fetching_processing.py:118-120).
    URL shape = fixtures.profile_url, built JVM-side.

    The URL list is explicitly repartitioned before the Python stage:
    the stage is CPU-bound PER ROW (render/fetch + parse), but AQE
    coalesces the upstream distinct's exchange by BYTES — a 15k-id
    list is a few hundred KB, so the whole fetch ran in one task
    (observed: the sf0.1 q45 python stage serialized onto one core).
    An explicit count pins the spread; default = defaultParallelism
    (every core fetches), the crawl path keeps its own politeness
    layout."""
    urls = fide_ids.select(
        F.concat(F.lit("https://ratings.fide.com/profile/"),
                 F.col("fide_id").cast("string")).alias("url")
    )
    n = fetch_partitions or spark.sparkContext.defaultParallelism
    return fetch_profile_stage(urls.repartition(n))


def upsert_profiles(table, spark: SparkSession, profiles: DataFrame, **kw) -> int:
    """MERGE the scraped records into the player_data snapshot table on
    the fide_id primary key (reference: check-then-INSERT OR REPLACE,
    old_scripts/fide-player-stats-en-US.py:211-231)."""
    from fide_crawler_spark.sources.snapshot import upsert

    return upsert(table, spark, profiles, key="fide_id", **kw)


def photo_media_table(profiles: DataFrame) -> DataFrame:
    """profile_photo data-URIs → multimodal media rows (payload binary +
    typed metadata), feeding `operators/multimodal.decode_media` — the
    Spark-scale form of the reference's base64 → PIL decode
    (ui/streamlit_ui.py:14-25)."""
    payload = F.encode(
        F.regexp_extract("profile_photo", r"base64,(.*)$", 1), "utf-8"
    )
    return profiles.select(
        F.col("fide_id").cast("bigint").alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("jpeg").alias("format"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def search_players_stage(queries: DataFrame, mode: str = "synthetic") -> DataFrame:
    """Seed search (`fetch_players`): (query) → member rows
    (name, title, url, result_pos) in document order.  Fused
    fetch+parse mapInPandas, same contract as the profile stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            names, titles, urls, pos = [], [], [], []
            for q in pdf["query"]:
                if mode == "synthetic":
                    page = render_search_page(q)
                else:
                    from fide_crawler_spark.fixtures import search_url
                    from fide_crawler_spark.sources.fetcher import _http_fetch_batch

                    fetched = _http_fetch_batch(pd.Series([search_url(q)]))
                    if fetched["status"][0] != "fetched":
                        continue  # failed search → no seeds, not garbage
                    page = fetched["page"][0]
                for i, rec in enumerate(parse_search_page(page)):
                    names.append(rec["name"])
                    titles.append(rec["title"])
                    urls.append(rec["url"])
                    pos.append(i)
            yield pd.DataFrame(
                {"name": names, "title": titles, "url": urls, "result_pos": pos}
            )

    return queries.select("query").mapInPandas(run, schema=SEARCH_SCHEMA)


def seeds_from_query(spark: SparkSession, query: str, mode: str = "synthetic") -> DataFrame:
    """Crawl entry stage: search query → admitted seed players
    (fide_id, name, title, seed_pos) in search-result order — the
    `fetch_players` → profile-id funnel the reference runs before any
    game-history crawl (ui/streamlit_ui.py:60-70)."""
    from fide_crawler_spark.operators.frontier import canonicalize_profile_urls

    members = search_players_stage(
        spark.createDataFrame([{"query": query}]), mode=mode
    )
    return (
        canonicalize_profile_urls(members, url_col="url")
        .select(
            "fide_id", "name", "title",
            F.col("result_pos").alias("seed_pos"),
        )
        .orderBy("seed_pos")
    )
