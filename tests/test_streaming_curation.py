"""Streaming curation capstone ≡ batch: the composed chain
(strip_boilerplate → incremental near-dup dedup → chunk → pack_shards)
run as a foreachBatch stream must equal (a) the one-shot batch chain
when the whole corpus arrives in a single trigger, and (b) the
sequential batch loop over the same chunks when it arrives in several.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from fide_crawler_spark.operators.boilerplate import (
    line_doc_freq,
    strip_boilerplate,
)
from fide_crawler_spark.operators.chunker import chunk_documents
from fide_crawler_spark.operators.dedup import incremental_dedup, minhash_dedup
from fide_crawler_spark.operators.shards import pack_shards_window
from fide_crawler_spark.streaming.curation import (
    curate_batch,
    make_curation_processor,
    read_curated_shards,
    start_curation_stream,
)

BANNER = "ACCEPT ALL COOKIES TO CONTINUE"
FOOTER = "copyright example corp all rights reserved"

PARAMS = dict(
    min_doc_freq=2, threshold=0.6, k=16, bands=8,
    chunk_tokens=8, overlap=2, shard_tokens=16,
)


def _body(i: int) -> list[str]:
    # three unique 15-token lines per doc
    return [
        " ".join(f"w{i}l{ln}t{j}" for j in range(15)) for ln in range(3)
    ]


def _near_body(of: int, new_id: int) -> list[str]:
    """Near-dup whose every LINE differs from the original (so the
    accumulated line-frequency strip cannot remove shared lines first —
    the planted pair must reach the minhash stage), while ~0.72 shingle
    jaccard keeps it above the 0.6 threshold: replace the last token of
    each line."""
    out = []
    for ln, line in enumerate(_body(of)):
        toks = line.split(" ")
        toks[-1] = f"x{new_id}l{ln}"
        out.append(" ".join(toks))
    return out


BATCHES = [
    # batch 0: banner in docs 0+1 (freq 2 -> stripped immediately);
    # footer only in doc 2 (freq 1 -> KEPT this batch)
    [
        (0, "\n".join([BANNER] + _body(0))),
        (1, "\n".join(_body(1) + [BANNER])),
        (2, "\n".join(_body(2) + [FOOTER])),
        (3, "\n".join(_body(3))),
    ],
    # batch 1: banner freq accumulates to 3 (stripped from doc 10);
    # footer accumulates to 2 -> stripped from doc 11 even though its
    # first occurrence (doc 2, batch 0) kept it; doc 12 is a near-dup
    # of doc 0's cleaned body -> dropped against the corpus
    [
        (10, "\n".join([BANNER] + _body(10))),
        (11, "\n".join(_body(11) + [FOOTER])),
        (12, "\n".join(_near_body(0, 12))),
    ],
    # batch 2: fresh doc + near-dup of doc 10's cleaned body
    [
        (20, "\n".join(_body(20))),
        (21, "\n".join(_near_body(10, 21))),
    ],
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _write_batches(tmp_path, batches):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "incoming"
    src.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        f = str(src / f"chunk{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            f,
        )
        os.utime(f, (now + i, now + i))
    return str(src)


def _rows(df):
    return sorted(
        (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"],
         r["shard_id"])
        for r in df.collect()
    )


def _reference_loop(spark):
    """Sequential spec built from the BATCH operators (and the
    single-window pack form): per chunk — accumulate raw line
    frequencies, strip with corpus-so-far keys, dedup vs accumulated
    survivors, chunk, pack at the running token offset."""
    seen_raw, corpus, offset, out = None, None, 0, []
    for rows in BATCHES:
        df = _df(spark, rows)
        seen_raw = df if seen_raw is None else seen_raw.unionByName(df)
        seen_raw = seen_raw.localCheckpoint()
        boiler = (
            line_doc_freq(seen_raw)
            .filter(F.col("doc_freq") >= PARAMS["min_doc_freq"])
            .select("line_key")
        )
        stripped = strip_boilerplate(
            df, min_doc_freq=PARAMS["min_doc_freq"], boiler_keys=boiler
        )
        cleaned = stripped.filter(F.col("n_lines_after") > 0).select(
            "doc_id", F.col("cleaned_text").alias("text")
        )
        dd = dict(threshold=PARAMS["threshold"], k=PARAMS["k"],
                  bands=PARAMS["bands"])
        surv = (
            minhash_dedup(cleaned, **dd)
            if corpus is None
            else incremental_dedup(cleaned, corpus, **dd)
        ).localCheckpoint()
        chunks = chunk_documents(
            surv, chunk_tokens=PARAMS["chunk_tokens"],
            overlap=PARAMS["overlap"],
        )
        packed = pack_shards_window(
            chunks.select("doc_id", "chunk_id", "n_tokens", "chunk_text"),
            "n_tokens",
            PARAMS["shard_tokens"],
            [F.col("doc_id").asc(), F.col("chunk_id").asc()],
            token_offset=offset,
        ).collect()
        out.extend(
            (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"],
             r["shard_id"])
            for r in packed
        )
        offset += sum(r["n_tokens"] for r in packed)
        corpus = surv if corpus is None else corpus.unionByName(surv)
        corpus = corpus.localCheckpoint()
    return sorted(out)


def test_single_trigger_stream_equals_one_shot_batch(spark, tmp_path):
    """Whole corpus in ONE trigger → the streamed shard set must be
    byte-equal (including shard ids) to the one-lazy-plan batch chain."""
    all_rows = [r for b in BATCHES for r in b]
    src = _write_batches(tmp_path, [all_rows])
    state = str(tmp_path / "state")
    q = start_curation_stream(
        spark, src, state, checkpoint=str(tmp_path / "ckpt"),
        max_files=10, **PARAMS,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    caches: list = []
    want = _rows(curate_batch(_df(spark, all_rows), caches=caches, **PARAMS))
    got = _rows(read_curated_shards(spark, state))
    for c in caches:
        c.unpersist()
    assert got == want


def test_multi_trigger_stream_equals_sequential_loop(spark, tmp_path):
    src = _write_batches(tmp_path, BATCHES)
    state = str(tmp_path / "state")
    q = start_curation_stream(
        spark, src, state, checkpoint=str(tmp_path / "ckpt"), **PARAMS
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = _rows(read_curated_shards(spark, state))
    want = _reference_loop(spark)
    assert got == want
    # shard ids are globally contiguous across batches (the packing
    # really continued — no restart at 0 per trigger beyond shard 0)
    shard_ids = sorted({r[4] for r in got})
    assert shard_ids == list(range(len(shard_ids)))


def test_planted_semantics(spark, tmp_path):
    """The fixture exercises what it claims: banner stripped in batch 0,
    footer kept in batch 0 / stripped in batch 1, cross-batch near-dups
    dropped."""
    state = str(tmp_path / "state")
    proc = make_curation_processor(spark, state, **PARAMS)
    for i, rows in enumerate(BATCHES):
        proc(_df(spark, rows), i)
    corpus = spark.read.parquet(os.path.join(state, "corpus"))
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    assert set(texts) == {0, 1, 2, 3, 10, 11, 20}  # 12 and 21 deduped
    assert BANNER not in texts[0] and BANNER not in texts[1]
    assert BANNER not in texts[10]
    assert FOOTER in texts[2]        # freq 1 at its batch -> kept
    assert FOOTER not in texts[11]   # accumulated freq 2 -> stripped


def test_replay_committed_and_crash_replay(spark, tmp_path):
    """Replay of a committed batch is a no-op; a crash between state
    writes (marker missing, partial partitions) is healed by replay."""
    state = str(tmp_path / "state")
    proc = make_curation_processor(spark, state, **PARAMS)

    def snapshot():
        out = {}
        for sub in ("linefreq", "corpus", "bands", "shards"):
            df = spark.read.parquet(os.path.join(state, sub))
            out[sub] = sorted(
                tuple(r) for r in df.collect()
            )
        return out

    b0 = _df(spark, BATCHES[0])
    proc(b0, 0)
    first = snapshot()
    proc(b0, 0)  # committed replay: marker short-circuit
    assert snapshot() == first

    b1 = _df(spark, BATCHES[1])
    proc(b1, 1)
    committed = snapshot()
    # crash-sim: batch 1 died after shards/ but before the marker
    os.remove(os.path.join(state, "_commits", "batch-1.json"))
    shutil.rmtree(os.path.join(state, "bands", "batch_id=1"))
    proc(b1, 1)
    assert snapshot() == committed


def test_streamed_sequences_continue_global_token_axis(spark, tmp_path):
    """seq_len mode: the streamed sequence manifest must equal the
    closed-form piece layout over the committed chunk stream in
    (doc_id, chunk_id) order on ONE global axis — i.e. the token
    offset really continued across triggers (a per-trigger restart
    would leave short interior sequences and shifted seq_ids)."""
    from fide_crawler_spark.streaming.curation import read_curated_sequences

    L = 12
    src = _write_batches(tmp_path, BATCHES)
    state = str(tmp_path / "state")
    q = start_curation_stream(
        spark, src, state, checkpoint=str(tmp_path / "ckpt"),
        seq_len=L, **PARAMS,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    chunks = sorted(
        (r["doc_id"], r["chunk_id"], r["n_tokens"])
        for r in read_curated_shards(spark, state).collect()
    )
    off, want = 0, set()
    for d, c, n in chunks:
        for s in range(off // L, (off + max(n - 1, 0)) // L + 1):
            ps = max(s * L - off, 0)
            pe = min((s + 1) * L - off, n)
            want.add((d, c, s, max(off - s * L, 0), ps, pe - ps))
        off += n
    got = {
        (r["doc_id"], r["chunk_id"], r["seq_id"], r["seq_pos"],
         r["piece_start"], r["piece_len"])
        for r in read_curated_sequences(spark, state).collect()
    }
    assert got == want
    # batches really contributed distinct axis regions
    assert len({r[2] for r in got}) > 1


def test_crash_window_every_cut_point(spark, tmp_path):
    """VERDICT #6-era protocol claim, adversarially: the commit
    protocol (five sinks written, THEN the atomic marker) must heal a
    death between EVERY adjacent pair of state writes — linefreq →
    corpus → bands → shards → sequences → marker — with replay
    converging byte-identically to the uninterrupted output.  Each cut
    is simulated by removing the marker plus every sink partition the
    crashed process would not yet have written, and (to model a
    half-written next sink) planting a junk file in the first missing
    partition dir — mode("overwrite") must clobber it."""
    _check_crash_windows(spark, tmp_path, 0, 1)


def test_crash_window_junk_sorting_first(spark, tmp_path):
    """The same cuts with batch ids 9 and 10: the junk partition
    ``batch_id=10`` sorts before the committed ``batch_id=9`` in a
    sink's listing, so replay must never list it (footer inference
    would otherwise open it first), not merely filter its rows out."""
    _check_crash_windows(spark, tmp_path, 9, 10)


def _check_crash_windows(spark, tmp_path, first: int, second: int):
    SINKS = ["linefreq", "corpus", "bands", "shards", "sequences"]
    params = dict(PARAMS, seq_len=8)

    def snapshot(state):
        out = {}
        for sub in SINKS:
            df = spark.read.parquet(os.path.join(state, sub))
            out[sub] = sorted(tuple(r) for r in df.collect())
        return out

    # uninterrupted reference run
    ref_state = str(tmp_path / "ref")
    ref = make_curation_processor(spark, ref_state, **params)
    ref(_df(spark, BATCHES[0]), first)
    ref(_df(spark, BATCHES[1]), second)
    want = snapshot(ref_state)

    for cut in range(len(SINKS) + 1):  # died after `cut` sink writes
        state = str(tmp_path / f"cut{cut}")
        proc = make_curation_processor(spark, state, **params)
        proc(_df(spark, BATCHES[0]), first)
        proc(_df(spark, BATCHES[1]), second)
        # rewind the second batch to the crash window: no marker,
        # sinks >= cut missing, the next sink dir holding half-written
        # junk
        os.remove(os.path.join(state, "_commits", f"batch-{second}.json"))
        for sub in SINKS[cut:]:
            part = os.path.join(state, sub, f"batch_id={second}")
            if os.path.exists(part):
                shutil.rmtree(part)
        if cut < len(SINKS):
            junk = os.path.join(state, SINKS[cut], f"batch_id={second}")
            os.makedirs(junk, exist_ok=True)
            with open(os.path.join(junk, "part-junk.parquet"), "w") as f:
                f.write("not parquet")
        proc(_df(spark, BATCHES[1]), second)  # replay heals
        assert snapshot(state) == want, f"cut after {cut} sink writes"
