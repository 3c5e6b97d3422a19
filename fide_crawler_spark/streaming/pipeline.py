"""Structured Streaming surface.

The reference is a sequential batch loop (SURVEY §2.I) — its loop
mechanics map to micro-batch epochs, which the crawl scheduler realizes
as a driver loop over snapshots (operators/scheduler.py).  This module
provides the genuinely-streaming operators a continuous ingest of the
same event/page data would need:

* watermarked tumbling-window aggregation (late-data tolerant);
* a custom stateful operator via ``applyInPandasWithState`` — running
  per-key counters across micro-batches (the streaming analog of the
  crawl's per-host budget accounting).

Tests drive these with file-source micro-batches + a memory sink and
assert equality with the batch computation (same engine, same results —
the Dataflow-model contract).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, path: str, max_files: int = 1) -> DataFrame:
    """File-source micro-batches.  The source requires a directory; a
    single-file path (the testdata layout) is exposed through a temp
    directory symlink."""
    import os
    import tempfile

    if os.path.isfile(path):
        d = tempfile.mkdtemp(prefix="events_stream_")
        os.symlink(path, os.path.join(d, os.path.basename(path)))
        path = d
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window agg: the streaming form of
    queries.q28_tumbling_window.  The watermark bounds state: windows
    older than max(event_time) - watermark are finalized and dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # floor-round, matching q28's batch form exactly (ROUND and
            # floor-rounding differ on ...5 halves)
            (F.floor(F.sum("value") * 10000 + F.lit(0.5)) / 10000)
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


RUNNING_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_STATE_SCHEMA = "n bigint, total double"


def _running_totals(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 4)]}
    )


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running event count + value sum maintained across micro-batches.
    State is a (n, total) tuple per key; output mode 'update' emits the
    latest running value each batch — the streaming analog of the
    crawl scheduler's per-host budget ledger."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _running_totals,
            outputStructType=RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drive a streaming query to completion over the available files
    (synchronous; for tests/smoke)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` emits
    the first occurrence of each key and drops re-arrivals across
    micro-batches, while the watermark bounds the dedup state to the
    late-data horizon — the unbounded-state-safe form (a plain
    ``dropDuplicates`` on a stream keeps every key forever, which at
    crawl scale is an OOM with a delay).  The batch equivalent is
    ``distinct``/keep-first on the same keys (asserted in tests)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def read_docs_stream(spark: SparkSession, path: str, max_files: int = 1) -> DataFrame:
    """Micro-batches of incoming documents (one parquet file per
    trigger — the continuous-ingest shape of a crawl's parse output)."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def start_incremental_dedup_stream(
    spark: SparkSession,
    docs_path: str,
    state_dir: str,
    checkpoint: str,
    threshold: float = 0.8,
    k: int = 16,
    bands: int = 4,
    max_files: int = 1,
):
    """Streaming near-dup dedup against a persisted corpus index.

    Completes the dedup family's streaming story: each micro-batch of
    new documents is deduped (a) within itself and (b) against every
    document that ever survived, via ``dedup.incremental_dedup`` over
    the persisted ``banded_signatures`` index — batch × corpus LSH
    join, NEVER corpus × corpus, so per-trigger cost is linear in the
    trigger regardless of how much history has accumulated (the only
    shape that survives an unbounded stream).

    State layout under ``state_dir`` (all parquet, partitioned by
    ``batch_id=<n>`` subdirectories — at cluster scale these are
    Iceberg appends with the batch id as a snapshot property):
      * ``corpus/``   — surviving (doc_id, text); read back ONLY to
        re-shingle the handful of LSH-colliding docs during verify;
      * ``bands/``    — the (doc, band_id, band_hash) LSH index; new
        batches join against this, corpus text is never re-hashed.
    Survivors land in ``survivors/`` as they are admitted.

    Exactly-once state updates on an at-least-once source: each batch
    writes its three outputs into per-batch ``batch_id=<n>`` partition
    directories (``mode=overwrite`` — a crashed half-written attempt is
    replaced wholesale on replay), then atomically publishes a commit
    marker under ``_commits/``.  Reads list only COMMITTED batch
    partitions, so a replayed batch never finds its own half-committed
    docs in the corpus (which would make it dedup against itself and
    drop every survivor), and a crash between the corpus and bands
    writes cannot leave the LSH index missing committed docs.  A replay
    of a fully committed batch is a no-op.

    Determinism: micro-batch boundaries ARE semantics for streaming
    dedup (an earlier-arriving near-dup dominates later arrivals), so
    the contract asserted in tests is stream ≡ the sequential batch
    loop over the same chunks in the same order.
    """
    process = make_incremental_dedup_processor(
        spark, state_dir, threshold=threshold, k=k, bands=bands
    )
    return (
        read_docs_stream(spark, docs_path, max_files)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def make_incremental_dedup_processor(
    spark: SparkSession,
    state_dir: str,
    threshold: float = 0.8,
    k: int = 16,
    bands: int = 4,
):
    """The ``foreachBatch`` body of the incremental dedup stream,
    exposed as a factory so idempotency under batch replay is directly
    testable (call it twice with the same ``batch_id``).

    Commit protocol (see ``start_incremental_dedup_stream``): write the
    batch's corpus/bands/survivors outputs into ``batch_id=<n>``
    partition dirs with overwrite, then rename a ``_commits/batch-<n>``
    marker into place.  Readers list only the committed batch
    partitions — uncommitted leftovers are never opened.
    """
    import os

    from fide_crawler_spark.operators.dedup import (
        banded_signatures,
        incremental_dedup,
        minhash_dedup,
    )
    from fide_crawler_spark.streaming import state as ST

    corpus_path = os.path.join(state_dir, "corpus")
    bands_path = os.path.join(state_dir, "bands")
    out_path = os.path.join(state_dir, "survivors")
    commits_dir = os.path.join(state_dir, "_commits")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(ST.marker_path(commits_dir, batch_id)):
            return  # replayed, fully committed batch — no-op
        committed = ST.committed_ids(commits_dir)
        batch_df = batch_df.localCheckpoint()  # pin: joined twice below
        if committed:
            corpus = ST.read_committed(spark, corpus_path, committed)
            cb = ST.read_committed(spark, bands_path, committed)
            survivors = incremental_dedup(
                batch_df, corpus, threshold=threshold, k=k, bands=bands,
                corpus_bands=cb,
            )
        else:
            survivors = minhash_dedup(
                batch_df, threshold=threshold, k=k, bands=bands
            )
        survivors = survivors.localCheckpoint()  # written to 3 sinks
        n = survivors.count()
        part = f"batch_id={batch_id}"
        survivors.write.mode("overwrite").parquet(
            os.path.join(corpus_path, part)
        )
        banded_signatures(survivors, k=k, bands=bands).write.mode(
            "overwrite"
        ).parquet(os.path.join(bands_path, part))
        survivors.write.mode("overwrite").parquet(
            os.path.join(out_path, part)
        )
        # publish: atomic rename AFTER all three writes succeeded
        ST.publish_marker(commits_dir, batch_id, {"survivors": n})

    return process


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str | None = "2 hours") -> DataFrame:
    """Per-user session aggregation via ``session_window`` — the
    built-in merging-window operator (sessions close after ``gap`` of
    inactivity).  The SAME expression runs batch and streaming; in
    streaming the watermark lets closed sessions finalize and their
    state drop.  The batch analog computed by hand is
    queries.q41_sessionize (gaps-and-islands window) — session ids
    differ in representation, but (user, start, n, sum) agree."""
    src = events.withWatermark("ts", watermark) if watermark and events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * 10000 + F.lit(0.5)) / 10000).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
