"""chunk_documents vs a pure-Python windowing reference."""

from __future__ import annotations

import pytest

from fide_crawler_spark.operators.chunker import chunk_documents


def _py_chunks(text: str, chunk: int, overlap: int):
    toks = text.split(" ")
    step = chunk - overlap
    out = []
    # starts run only while start < max(n - overlap, 1): a start within
    # `overlap` of the end would duplicate the previous chunk's suffix
    for cid, start in enumerate(range(0, max(len(toks) - overlap, 1), step)):
        win = toks[start : start + chunk]
        out.append((cid, len(win), " ".join(win)))
    return out


@pytest.mark.parametrize("chunk,overlap", [(8, 2), (5, 0), (64, 8)])
def test_matches_python_reference(spark, chunk, overlap):
    rows = [
        (0, " ".join(f"t{i}" for i in range(23))),
        (1, "single"),
        (2, " ".join(f"x{i}" for i in range(8))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(docs, chunk, overlap).collect()
    }
    want = {
        (i, cid): (n, txt)
        for i, text in rows
        for cid, n, txt in _py_chunks(text, chunk, overlap)
    }
    assert got == want


def test_short_doc_single_chunk(spark):
    docs = spark.createDataFrame([(7, "a b c")], "doc_id long, text string")
    rows = chunk_documents(docs, chunk_tokens=64, overlap=8).collect()
    assert len(rows) == 1
    assert rows[0]["chunk_text"] == "a b c" and rows[0]["n_tokens"] == 3


def test_overlap_witness(spark):
    # every token boundary inside the doc appears intact in some chunk
    docs = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(20)))], "doc_id long, text string"
    )
    rows = sorted(
        chunk_documents(docs, 8, 2).collect(), key=lambda r: r["chunk_id"]
    )
    # consecutive chunks share exactly `overlap` tokens
    for a, b in zip(rows, rows[1:]):
        ta, tb = a["chunk_text"].split(" "), b["chunk_text"].split(" ")
        assert ta[-2:] == tb[:2]


def test_invalid_params_raise(spark):
    docs = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(AssertionError):
        chunk_documents(docs, 4, 4)


def test_compression_ratio_matches_zlib(spark):
    import math
    import zlib

    from fide_crawler_spark.operators.textstats import compression_ratio

    rows = [
        (0, "spam " * 200),              # highly repetitive
        (1, " ".join(f"w{i}" for i in range(200))),  # high-entropy-ish
        (2, "x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bytes"], r["n_compressed"], r["compression_ratio"])
        for r in compression_ratio(docs).collect()
    }
    for i, t in rows:
        b = t.encode()
        c = len(zlib.compress(b, 6))
        assert got[i] == (
            len(b),
            c,
            math.floor(c / max(len(b), 1) * 10000 + 0.5) / 10000,
        )
    # the repetitive doc compresses far better than the diverse one
    assert got[0][2] < got[1][2]


def test_quantile_filter_above_below(spark):
    from fide_crawler_spark.operators.textstats import quantile_filter

    docs = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "doc_id long, s double"
    )
    hi = sorted(
        r["doc_id"] for r in quantile_filter(docs, "s", 0.9, exact=True).collect()
    )
    # p90 of 0..99 (linear interp) = 89.1 -> keep 90..99
    assert hi == list(range(90, 100))
    lo = sorted(
        r["doc_id"]
        for r in quantile_filter(docs, "s", 0.1, keep="below", exact=True).collect()
    )
    assert lo == list(range(0, 10))
    # approx path returns a superset/subset near the same cut, same schema
    ap = quantile_filter(docs, "s", 0.9).collect()
    assert {r["doc_id"] for r in ap} and all(r["s"] >= 85 for r in ap)


def test_corpus_ngram_topk_custom_id_col(spark):
    """The id column is a parameter: a frame that names it something
    other than doc_id gets the same doc-frequency counts."""
    from fide_crawler_spark.operators.textstats import corpus_ngram_topk

    rows = [(0, "a b a b"), (1, "a b c"), (2, "c d")]
    want = [("a b", 2), ("b a", 1), ("b c", 1), ("c d", 1)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    page = spark.createDataFrame(rows, "page_key long, text string")
    assert [tuple(r) for r in corpus_ngram_topk(docs, n=2, k=4).collect()] == want
    got = corpus_ngram_topk(page, n=2, k=4, id_col="page_key").collect()
    assert [tuple(r) for r in got] == want
