"""Text analysis operators for a training-data pipeline over `documents`.

All hot-path expressions are JVM-side (``split``, higher-order array
functions, ``xxhash64``) — no Python in the row path.  Each operator has
a queries.py entry; the SQL-expressible ones carry a DuckDB oracle.

These extend the reference's text handling (string normalization at
``ui/streamlit_ui.py:322-324``, digit filters at
``data_processing/data_fetching_processing.py:200``) to corpus scale:
token stats, quality scoring, language-ID heuristic, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny English-marker stopword list for the n-gram/stopword heuristics.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]

FINGERPRINT_MOD = 2147483647  # 2^31 - 1


def tokens_col(text: str | Column = "text") -> Column:
    return F.split(text if isinstance(text, Column) else F.col(text), " ")


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, char stats."""
    toks = tokens_col()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_calc"),
        (
            F.floor(
                F.length(F.regexp_replace("text", r"\s", "")).cast("double")
                / F.greatest(F.size(toks), F.lit(1)) * 10000 + F.lit(0.5)
            ) / 10000
        ).alias("avg_token_len"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Quality scoring: length band + stopword ratio + repetition ratio.

    A simple deterministic score in [0,1]: rewards mid-length documents,
    a healthy stopword ratio, and low repetition — the standard cheap
    pre-filter shape for corpus curation.
    """
    toks = tokens_col()
    n = F.size(toks).cast("double")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(STOPWORDS))
    ).cast("double")
    n_dist = F.size(F.array_distinct(toks)).cast("double")
    stop_ratio = n_stop / F.greatest(n, F.lit(1.0))
    rep_ratio = F.lit(1.0) - n_dist / F.greatest(n, F.lit(1.0))
    len_score = F.least(n / F.lit(64.0), F.lit(1.0))
    score = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - rep_ratio)
    )
    # floor(x*1e4+0.5)/1e4 instead of round(): Spark rounds the double's
    # decimal expansion (BigDecimal HALF_UP) while DuckDB rounds the
    # scaled float — they disagree on ...4999 doubles; this formula is
    # bit-identical in both engines.
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return docs.select(
        "doc_id",
        r4(stop_ratio).alias("stopword_ratio"),
        r4(rep_ratio).alias("repetition_ratio"),
        r4(score).alias("quality_score"),
    )


def langid(docs: DataFrame) -> DataFrame:
    """Language-ID heuristic: marker-token ratio (n-gram-style scoring
    without external models).  ``en_score`` = fraction of tokens in the
    English marker set; predicted label thresholds it."""
    toks = tokens_col()
    en = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("double") / F.greatest(
        F.size(toks).cast("double"), F.lit(1.0)
    )
    return docs.select(
        "doc_id",
        (F.floor(en * 10000 + F.lit(0.5)) / 10000).alias("en_score"),
        F.when(en >= 0.08, "en").otherwise("unk").alias("predicted_lang"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals at word granularity: the
    duplicate-token fraction (1 − distinct/total) and the share of the
    single most frequent token.  High values mark boilerplate/spam for
    the curation filter.  Plan: one explode → two-level grouped
    aggregate (partial map-side combine at both levels, no window —
    the per-doc "mode" is max-of-counts, not a rank)."""
    ex = docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
    counts = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("__top"),
        )
        .select(
            "doc_id",
            "n_tokens",
            r4(
                F.lit(1.0)
                - F.col("n_distinct").cast("double") / F.col("n_tokens")
            ).alias("dup_token_frac"),
            r4(F.col("__top").cast("double") / F.col("n_tokens")).alias(
                "top_token_share"
            ),
        )
    )


def corpus_ngram_topk(
    docs: DataFrame, n: int = 2, k: int = 20, id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level top-k word n-grams — the vocabulary/BPE-prep sweep.
    ``docs`` needs a ``text`` column and a document id column named by
    ``id_col`` (passed through to ``shingle_docs``).
    Counts DOC FREQUENCY (shingle_docs dedups within a doc).  Classic
    word-count shape: explode → partial-combined count → one shuffle —
    keyed on ``xxhash64(gram)`` (8-byte fixed-width key instead of a
    variable-length string, as ngram_jaccard_pairs already does; the
    display gram rides along as a ``min`` aggregate) →
    TakeOrderedAndProject (no global sort).  Ties broken by the gram
    itself so the top-k is total-ordered.  A 64-bit gram collision
    would merge two counts at P≈2⁻⁶⁴ per pair — negligible against the
    approximation already inherent in vocabulary sweeps."""
    from fide_crawler_spark.operators.dedup import shingle_docs

    # shingle_docs hoists the token split into its own projection — a
    # split inside the transform lambda would re-split the text once PER
    # SHINGLE (HOF lambdas are interpreted, no subexpression elimination).
    grams = shingle_docs(docs, n=n, id_col=id_col, out_col="__sh").select(
        F.explode("__sh").alias("gram")
    )
    return (
        grams.groupBy(F.xxhash64("gram").alias("__gh"))
        .agg(F.min("gram").alias("gram"), F.count(F.lit(1)).alias("doc_freq"))
        .select("gram", "doc_freq")
        .orderBy(F.desc("doc_freq"), F.asc("gram"))
        .limit(k)
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprinting: position-weighted rolling token-code sum
    mod 2^31-1 (Karp-Rabin family).  Token code = 31*len + first-char
    code — cheap, deterministic, SQL-expressible for the oracle."""
    toks = F.posexplode(tokens_col()).alias("pos", "tok")
    exploded = docs.select("doc_id", toks)
    code = F.length("tok") * 31 + F.ascii("tok")
    # Reduce mod M INSIDE the sum: Spark SUM(BIGINT) wraps at 2^63
    # while DuckDB promotes to 128-bit, so the two mods diverge once a
    # document's position-weighted sum exceeds int64.  With per-term
    # reduction the partial sums stay ≤ n_tokens·M — overflow-safe (and
    # identical) on both engines.
    term = F.pmod(
        (F.col("pos") + 1).cast("bigint") * code.cast("bigint"),
        F.lit(FINGERPRINT_MOD),
    )
    return (
        exploded.groupBy("doc_id")
        .agg(
            F.pmod(F.sum(term), F.lit(FINGERPRINT_MOD)).alias("fingerprint")
        )
    )


def compression_ratio(docs: DataFrame, text_col: str = "text", level: int = 6) -> DataFrame:
    """Compression-ratio quality signal: deflate(text)/len(text) — the
    classic cheap proxy for boilerplate/repetition (highly repetitive
    documents compress far below ~1.0; natural text sits higher).

    This is the one text signal that genuinely needs Python (no zlib in
    SQL engines), so it takes the disciplined slow path: Arrow-batched
    ``mapInPandas`` over a doc_id+text projection (column pruning keeps
    everything else off the Arrow channel), vectorized per batch, no
    per-row Python UDF calls.  No SQL oracle by nature — the pytest
    oracle is the zlib reference itself (deterministic for a fixed
    level and library version).
    """
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            nb = raw.map(len).astype("int32")
            nc = raw.map(lambda b: len(zlib.compress(b, level))).astype("int32")
            import numpy as np

            ratio = np.floor(
                nc.to_numpy(dtype="float64")
                / np.maximum(nb.to_numpy(dtype="float64"), 1.0)
                * 10000
                + 0.5
            ) / 10000
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": nb,
                    "n_compressed": nc,
                    "compression_ratio": ratio,
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(
        score,
        "doc_id long, n_bytes int, n_compressed int, compression_ratio double",
    )


def quantile_filter(
    docs: DataFrame,
    score_col: Column | str,
    q: float,
    keep: str = "above",
    exact: bool = False,
) -> DataFrame:
    """Keep rows whose ``score_col`` is >= (``keep='above'``) or <=
    (``'below'``) the corpus q-quantile of that score — the standard
    "drop the worst decile" curation gate.

    The threshold is ONE row (an aggregate) broadcast-cross-joined back
    onto the corpus — never a window, so the corpus itself only streams
    through a filter.  ``exact=False`` (default) uses
    ``approx_percentile`` — the mergeable-sketch form that is the only
    sane choice at 10^10 rows; ``exact=True`` buffers values in the
    aggregate (linear-interpolated percentile, engine-portable) and
    exists for oracle-checkable runs and small corpora.
    """
    assert 0.0 <= q <= 1.0 and keep in ("above", "below")
    col = F.col(score_col) if isinstance(score_col, str) else score_col
    agg = (
        F.percentile(col, F.lit(q)) if exact else F.percentile_approx(col, F.lit(q))
    )
    thr = docs.agg(agg.alias("__thr"))
    cond = (
        (col >= F.col("__thr")) if keep == "above" else (col <= F.col("__thr"))
    )
    return docs.crossJoin(F.broadcast(thr)).filter(cond).drop("__thr")
