"""Parse operators: page → interleaved spans → typed game_history.

Reference behavior being reproduced (all cites into /root/reference/):

* page → ordered spans: BeautifulSoup selectors over the calc table,
  ``data_processing/data_fetching_processing.py:148-194`` — text cells
  in document order interleaved with ``<img>`` color-icon media refs
  (``:159-162``).  Emission order is the byte-for-byte invariant.
* all-null limiter rows split the page into tournament blocks
  (``:154-155``); fixed offsets relative to the limiter give tournament
  name/date/rating (``:167-169``); the positional slice ``iloc[l+1:n-3]``
  selects game rows (``:170-173``).

Spark-first design: the *string* parse is a vectorized ``mapInPandas``
stage (1 page → N span rows, UDTF-shaped); everything *after* spans is
pure relational — block ids via a running-sum window (SURVEY W4),
positional slices via ``row_number`` within block (B11), fixed-offset
extraction via ``first(when(rn==k, ...))`` (G9), reassembly via
``array_sort(collect_list(struct(...)))`` (W5).  No per-row Python past
the Arrow batch boundary.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fide_crawler_spark.fixtures import parse_page

FUSED_META_COLS = ["url_hash", "fide_id", "period", "seed_pos", "retry_count", "rank"]


def fetch_parse_stage(
    batch: DataFrame, mode: str = "synthetic", weight: int = 1
) -> DataFrame:
    """Fused fetch+parse: one Arrow round-trip from frontier row to span
    document — the steady-state hot path of the crawler.

    Design notes for scale (these each showed up as real costs at the
    50k-URL/26M-span bench size):

    * fetch and parse share one ``mapInPandas`` stage, so the raw page
      body lives only inside the Python worker — it is never serialized
      into a Spark column, cached, or shuffled;
    * frontier metadata columns pass straight through the stage —
      no join to re-attach them to parsed docs;
    * spans leave Python as four aligned primitive arrays
      (list<string>/list<int> — cheap Arrow conversion) and are zipped
      into the contract's array<struct> shape by a JVM ``arrays_zip``
      + ``transform``, avoiding per-span Python dict construction;
    * failed fetches yield empty span arrays with status='failed' so the
      scheduler can bump retry_count without a second bookkeeping path.
    """
    from fide_crawler_spark.sources.fetcher import _http_fetch_batch
    from fide_crawler_spark.fixtures import render_page

    # Stream output in small url-chunks: a task's whole partition of
    # parsed spans held as Python lists is GBs at realistic page weight
    # — across 32 concurrent workers that swaps the host.  Chunked
    # yields bound per-worker residency to ~chunk × page_spans.
    chunk_rows = max(16, 4096 // max(weight, 1))

    # mapInArrow building the FINAL array<struct> span column directly
    # (guide §4.2): spans leave Python as four flat primitive Arrow
    # value buffers + one offsets array (ListArray over a StructArray),
    # not as per-page Python lists inside pandas object columns.  The
    # r5 form paid twice at realistic page weight: pandas→Arrow
    # serialized ~10⁸ per-epoch span elements out of object columns,
    # and a JVM arrays_zip+transform (CodegenFallback — interpreted)
    # then rebuilt every one of those elements as a struct.  Both costs
    # disappear; the JVM receives the contract shape ready-made.
    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        import pyarrow as pa

        span_names = ["kind", "text", "media_ref", "offset"]
        for rb in batches:
            for lo in range(0, rb.num_rows, chunk_rows):
                part = rb.slice(lo, chunk_rows)
                urls = part.column(0).to_pylist()
                if mode == "synthetic":
                    pages = [render_page(u, weight) for u in urls]
                    page_status = ["fetched"] * len(pages)
                elif mode == "flaky":
                    # deterministic failure injection for the retry-path
                    # tests: every crc%3==0 URL fails on its first
                    # attempt and succeeds once retry_count > 0
                    # (reference analog: @retry(delay=10),
                    # old_scripts/fide-games-scraper-public.py:48)
                    import zlib

                    retry = part.column("retry_count").to_pylist()
                    pages, page_status = [], []
                    for u, rc in zip(urls, retry):
                        if zlib.crc32(u.encode()) % 3 == 0 and int(rc) == 0:
                            pages.append("")
                            page_status.append("failed")
                        else:
                            pages.append(render_page(u, weight))
                            page_status.append("fetched")
                else:
                    fetched = _http_fetch_batch(pd.Series(urls))
                    pages, page_status = list(fetched["page"]), list(fetched["status"])
                kinds: list = []
                texts: list = []
                refs: list = []
                offs: list = []
                offsets = [0]
                statuses = []
                for page, st in zip(pages, page_status):
                    if st == "fetched":
                        spans = parse_page(page)
                        if spans:
                            k, t, r, o = zip(*spans)
                            kinds.extend(k)
                            texts.extend(t)
                            refs.extend(r)
                            offs.extend(o)
                        statuses.append("fetched")
                    else:
                        statuses.append(st)
                    offsets.append(len(kinds))
                values = pa.StructArray.from_arrays(
                    [
                        pa.array(kinds, pa.string()),
                        pa.array(texts, pa.string()),
                        pa.array(refs, pa.string()),
                        pa.array(offs, pa.int32()),
                    ],
                    names=span_names,
                )
                spans_arr = pa.ListArray.from_arrays(
                    pa.array(offsets, pa.int32()), values
                )
                cols = (
                    [part.column(0)]
                    + [part.column(c) for c in FUSED_META_COLS]
                    + [pa.array(statuses, pa.string()), spans_arr]
                )
                yield pa.RecordBatch.from_arrays(
                    cols,
                    ["doc_id", *FUSED_META_COLS, "status", "spans"],
                )

    in_schema = {f.name: f.dataType.simpleString() for f in batch.schema.fields}
    meta_ddl = ", ".join(f"`{c}` {in_schema[c]}" for c in FUSED_META_COLS)
    return batch.select("url", *FUSED_META_COLS).mapInArrow(
        run,
        schema=(
            f"doc_id string, {meta_ddl}, status string, "
            "spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>"
        ),
    )


def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) → flat (doc_id, kind, text, media_ref, offset)."""
    return docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def reassemble_spans(flat: DataFrame) -> DataFrame:
    """Inverse of explode_spans — order restored from the offset column
    (order is a data property, not an execution property; SURVEY §7
    hard part (a)).
    """
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
        ),
        lambda x: F.struct(
            x["kind"].alias("kind"),
            x["text"].alias("text"),
            x["media_ref"].alias("media_ref"),
            x["offset"].alias("offset"),
        ),
    )
    return flat.groupBy("doc_id").agg(ordered.alias("spans"))


def game_history_view(docs: DataFrame) -> DataFrame:
    """Relational spans → typed game_history (FIXTURES.md §3).

    Pipeline (single pass over exploded spans, two window shuffles both
    partitioned by doc_id so they share one exchange):

    1. block id = running count of empty-text delimiter spans
       (W4: ``sum(when(is_delim,1)) over (partition doc_id order offset)``).
    2. within each block, text spans get ``rn`` — rows 1..4 are
       header+meta (tournament, date, country, player rating); rows ≥5
       are games (B11 positional slice, G9 fixed-offset extraction).
    3. game color comes from the media span at ``offset+1``
       (data_fetching_processing.py:159-162) — an equi-join on
       (doc_id, offset), co-partitioned with the windows.
    4. tab-joined game fields split + typed (H2-H5: regexp digit strip,
       try_cast-style coercion via cast which nulls on failure).
    """
    flat = explode_spans(docs)
    w_doc = Window.partitionBy("doc_id").orderBy("offset")
    is_delim = (F.col("kind") == "text") & (F.col("text") == "")
    blocked = flat.withColumn(
        "block_id",
        F.sum(F.when(is_delim, 1).otherwise(0)).over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).filter(~is_delim)

    texts = blocked.filter(F.col("kind") == "text").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id", "block_id").orderBy("offset")
        ),
    )
    w_blk = Window.partitionBy("doc_id", "block_id")
    meta = (
        texts.withColumn("tournament_name", F.first(F.when(F.col("rn") == 1, F.col("text")), ignorenulls=True).over(w_blk))
        .withColumn("date", F.first(F.when(F.col("rn") == 2, F.col("text")), ignorenulls=True).over(w_blk))
        .withColumn("country", F.first(F.when(F.col("rn") == 3, F.col("text")), ignorenulls=True).over(w_blk))
        .withColumn("player_rating", F.first(F.when(F.col("rn") == 4, F.col("text")), ignorenulls=True).over(w_blk))
    )
    games = meta.filter(F.col("rn") >= 5)

    media = blocked.filter(F.col("kind") == "media").select(
        "doc_id",
        (F.col("offset") - 1).alias("offset"),
        F.when(F.col("media_ref").contains("clr_wh"), "white")
        .otherwise("black")
        .alias("player_color"),
    )
    games = games.join(media, ["doc_id", "offset"], "left")

    f = F.split(F.col("text"), "\t")
    return games.select(
        F.col("doc_id"),
        F.regexp_extract("doc_id", r"id_number=(\d+)", 1).alias("fide_id"),
        F.to_date("date", "yyyy-MM-dd").alias("date"),
        F.col("tournament_name"),
        F.col("country"),
        F.regexp_replace("player_rating", r"\D", "").cast("int").alias("player_rating"),
        F.col("player_color"),
        f.getItem(0).alias("opponent_name"),
        f.getItem(1).alias("opponent_country"),
        F.regexp_replace(f.getItem(2), r"\D", "").cast("int").alias("opponent_rating"),
        f.getItem(3).cast("double").alias("result"),
        f.getItem(4).cast("double").alias("chg"),
        f.getItem(5).cast("int").alias("k"),
        f.getItem(6).cast("double").alias("k_chg"),
        F.col("block_id"),
        F.col("offset"),
    )
