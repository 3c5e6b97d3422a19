"""Streaming curation capstone: the full training-data chain —
boilerplate strip → near-dup dedup → chunk → token-budget shard
packing — run continuously over micro-batches of crawled documents,
with every stateful stage backed by persisted, exactly-once state.

Composes the pieces that are each batch≡stream-tested on their own
(streaming/pipeline.py incremental dedup, operators/boilerplate.py,
operators/shards.py) into ONE foreachBatch pipeline, proving the
composition:

* line doc-frequency ACCUMULATES: batch N is stripped against the
  frequencies of every committed batch plus itself, so a banner that
  only becomes frequent across batches starts being stripped the
  moment its accumulated count crosses the threshold;
* near-dup state is the persisted LSH band index — batch × corpus
  join, never corpus × corpus (per-trigger cost linear in the trigger);
* shard packing CONTINUES across batches: the commit marker carries
  the batch's token count, and the next batch packs at
  ``token_offset = Σ committed tokens`` — the running sum is
  associative, so a one-trigger stream produces shard ids byte-equal
  to the one-shot batch job (asserted in tests), and a multi-trigger
  stream equals the sequential loop over the same chunks.

Micro-batch boundaries ARE semantics for the stateful stages (an
earlier-arriving near-dup dominates later arrivals; a line's strip
decision depends on the corpus so far) — the contract, as everywhere
in the streaming family, is stream ≡ the sequential batch loop over
the same chunks in the same order.

State layout under ``state_dir`` (commit protocol: streaming/state.py):
  linefreq/   per-batch (line_key, doc_freq) partials
  corpus/     surviving (doc_id, text) after strip+dedup
  bands/      the (doc, band_id, band_hash) LSH index
  shards/     packed chunk rows with final shard_id
  sequences/  (seq_len mode) training-sequence piece manifest rows
  _commits/   atomic per-batch markers (survivors, tokens)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fide_crawler_spark.operators.boilerplate import (
    line_doc_freq,
    strip_boilerplate,
)
from fide_crawler_spark.operators.chunker import chunk_documents
from fide_crawler_spark.operators.dedup import (
    banded_signatures,
    incremental_dedup,
    minhash_dedup,
)
from fide_crawler_spark.operators.shards import pack_shards, sequence_pieces
from fide_crawler_spark.streaming import state as ST


def curate_batch(
    docs: DataFrame,
    min_doc_freq: int = 2,
    threshold: float = 0.8,
    k: int = 16,
    bands: int = 4,
    chunk_tokens: int = 64,
    overlap: int = 8,
    shard_tokens: int = 256,
    caches: list | None = None,
) -> DataFrame:
    """The one-shot batch form of the capstone chain (the q63
    discipline): strip boilerplate → drop emptied docs → near-dup
    dedup on the CLEANED text → chunk → pack.  One lazy plan; the
    streaming processor must reproduce exactly this when the whole
    corpus arrives in a single trigger."""
    stripped = strip_boilerplate(docs, min_doc_freq=min_doc_freq)
    cleaned = stripped.filter(F.col("n_lines_after") > 0).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    survivors = minhash_dedup(cleaned, threshold=threshold, k=k, bands=bands)
    chunks = chunk_documents(
        survivors, chunk_tokens=chunk_tokens, overlap=overlap
    )
    return pack_shards(
        chunks.select("doc_id", "chunk_id", "n_tokens", "chunk_text"),
        "n_tokens",
        shard_tokens,
        [F.col("doc_id").asc(), F.col("chunk_id").asc()],
        caches=caches,
    )


def make_curation_processor(
    spark: SparkSession,
    state_dir: str,
    min_doc_freq: int = 2,
    threshold: float = 0.8,
    k: int = 16,
    bands: int = 4,
    chunk_tokens: int = 64,
    overlap: int = 8,
    shard_tokens: int = 256,
    seq_len: int | None = None,
):
    """foreachBatch body of the streaming capstone (exposed as a
    factory so replay idempotency and state accumulation are directly
    testable — call it by hand with chosen batch_ids)."""
    linefreq_path = os.path.join(state_dir, "linefreq")
    sequences_path = os.path.join(state_dir, "sequences")
    corpus_path = os.path.join(state_dir, "corpus")
    bands_path = os.path.join(state_dir, "bands")
    shards_path = os.path.join(state_dir, "shards")
    commits_dir = os.path.join(state_dir, "_commits")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(ST.marker_path(commits_dir, batch_id)):
            return  # replayed, fully committed batch — no-op
        committed = ST.committed_ids(commits_dir)
        batch_df = batch_df.localCheckpoint()  # feeds freq AND strip

        # 1. boilerplate: accumulated doc-frequency = committed batches
        #    + this batch (only (line_key, doc_freq) partials persist —
        #    line text never re-shuffles)
        batch_lf = (
            line_doc_freq(batch_df).select("line_key", "doc_freq")
            .localCheckpoint()  # written below AND summed here
        )
        if committed:
            prev_lf = ST.read_committed(
                spark, linefreq_path, committed
            ).select("line_key", "doc_freq")
            total_lf = (
                prev_lf.unionByName(batch_lf)
                .groupBy("line_key")
                .agg(F.sum("doc_freq").alias("doc_freq"))
            )
        else:
            total_lf = batch_lf
        boiler = total_lf.filter(
            F.col("doc_freq") >= min_doc_freq
        ).select("line_key")
        stripped = strip_boilerplate(
            batch_df, min_doc_freq=min_doc_freq, boiler_keys=boiler
        )
        cleaned = stripped.filter(F.col("n_lines_after") > 0).select(
            "doc_id", F.col("cleaned_text").alias("text")
        )

        # 2. near-dup vs the committed corpus (batch × corpus, never
        #    corpus × corpus)
        if committed:
            corpus = ST.read_committed(spark, corpus_path, committed)
            cb = ST.read_committed(spark, bands_path, committed)
            survivors = incremental_dedup(
                cleaned, corpus, threshold=threshold, k=k, bands=bands,
                corpus_bands=cb,
            )
        else:
            survivors = minhash_dedup(
                cleaned, threshold=threshold, k=k, bands=bands
            )
        survivors = survivors.localCheckpoint()  # 2 sinks + chunking

        # 3. chunk + pack, continuing the global running token sum
        token_offset = sum(
            m["tokens"] for m in ST.read_markers(commits_dir, committed)
        )
        chunks = chunk_documents(
            survivors, chunk_tokens=chunk_tokens, overlap=overlap
        )
        caches: list = []
        packed = pack_shards(
            chunks.select("doc_id", "chunk_id", "n_tokens", "chunk_text"),
            "n_tokens",
            shard_tokens,
            [F.col("doc_id").asc(), F.col("chunk_id").asc()],
            caches=caches,
            token_offset=token_offset,
            # seq_len mode reuses THIS layout's exact offsets for the
            # sequence manifest (same global token axis regardless of
            # the shard budget) — no second two-pass sort
            offset_col="__off" if seq_len is not None else None,
        ).localCheckpoint()  # written AND aggregated for the marker
        batch_tokens = packed.agg(F.sum("n_tokens")).first()[0] or 0
        n = survivors.count()

        part = f"batch_id={batch_id}"
        batch_lf.write.mode("overwrite").parquet(
            os.path.join(linefreq_path, part)
        )
        survivors.write.mode("overwrite").parquet(
            os.path.join(corpus_path, part)
        )
        banded_signatures(survivors, k=k, bands=bands).write.mode(
            "overwrite"
        ).parquet(os.path.join(bands_path, part))
        packed.drop("__off").write.mode("overwrite").parquet(
            os.path.join(shards_path, part)
        )
        if seq_len is not None:
            # concat-and-chop training sequences on the SAME global
            # token axis (token_offset continuation is associative —
            # pinned in tests/test_scale_paths.py): a pure projection
            # over the offsets pack_shards already computed — committed
            # with the batch, before the marker, like every other sink
            sequence_pieces(
                packed.select("doc_id", "chunk_id", "n_tokens", "__off"),
                "n_tokens",
                seq_len,
                "__off",
                id_cols=["doc_id", "chunk_id"],
            ).write.mode("overwrite").parquet(
                os.path.join(sequences_path, part)
            )
        for c in caches:
            c.unpersist()
        # publish: atomic rename AFTER every sink write succeeded
        # (four dirs; five with the seq_len sequence manifest)
        ST.publish_marker(
            commits_dir, batch_id,
            {"survivors": n, "tokens": int(batch_tokens)},
        )

    return process


def start_curation_stream(
    spark: SparkSession,
    docs_path: str,
    state_dir: str,
    checkpoint: str,
    max_files: int = 1,
    **params,
):
    """crawl-output docs stream → the full curation chain.  One file
    per trigger by default (the continuous-ingest shape of a crawl's
    parse output)."""
    from fide_crawler_spark.streaming.pipeline import read_docs_stream

    process = make_curation_processor(spark, state_dir, **params)
    return (
        read_docs_stream(spark, docs_path, max_files)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def read_curated_sequences(spark: SparkSession, state_dir: str) -> DataFrame:
    """All committed training-sequence piece rows (seq_len mode)."""
    commits_dir = os.path.join(state_dir, "_commits")
    return ST.read_committed(
        spark, os.path.join(state_dir, "sequences"), ST.committed_ids(commits_dir)
    )


def read_curated_shards(spark: SparkSession, state_dir: str) -> DataFrame:
    """All committed packed chunk rows (the training-shard set)."""
    commits_dir = os.path.join(state_dir, "_commits")
    return ST.read_committed(
        spark, os.path.join(state_dir, "shards"), ST.committed_ids(commits_dir)
    )
