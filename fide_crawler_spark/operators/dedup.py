"""Deduplication operators for corpus curation at 100 TB scale.

Six strategies, all shuffle-disciplined (candidate generation via
bucket keys so no all-pairs cross join ever materializes):

* exact           — hash groupBy on content, keep-first (min doc_id)
* n-gram Jaccard  — shingle → inverted-index self-join → exact Jaccard
* MinHash + LSH   — k permutations over xxhash64(shingle), banded
                    bucket-join for candidates, exact-Jaccard verify
* SimHash         — sign-aggregated bit fingerprint, equal-hash buckets
* embedding cosine — random-hyperplane LSH buckets + within-bucket
                    vectorized pandas verify (near-dup over vectors)
* exact substring — rolling W-token window occurrence counts flagging
                    repeated PASSAGES inside otherwise-distinct docs
                    (Lee et al. 2022, "Deduplicating Training Data
                    Makes Language Models Better" — the grouped-
                    aggregate form of their suffix-array ExactSubstr)

Reference analog: the 5-column duplicate purge
(``database/database_management.py:56-71``) is the `exact` case; the
rest generalize it to near-duplicate detection.  Everything except the
embedding verifier is pure JVM expression (no Python in the row path);
MinHash permutation mins are computed as grouped aggregates, not UDAFs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# universal-hash modulus: 2^31-1 (Mersenne).  Small enough that
# a*h + b stays < 2^62 — no int64 overflow under Spark's ANSI mode —
# while 2^31 distinct min values is ample for 16-permutation MinHash.
MERSENNE = (1 << 31) - 1


def md5h(col) -> "F.Column":
    """Engine-portable 60-bit feature hash: the first 15 hex digits of
    md5, parsed as an integer.  Bit-identical in DuckDB as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT`` — the bridge that lets
    the hash-keyed dedup family carry full SQL value oracles.  15
    digits (not 16) so the value < 2^60 fits a signed int64 on both
    engines.  Production paths default to xxhash64 (JVM-native, no hex
    round-trip); ``portable=True`` switches to this."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _feature_hash(col, portable: bool):
    return md5h(col) if portable else F.xxhash64(col)


def exact_dedup(docs: DataFrame, content_col: str = "text") -> DataFrame:
    """Exact dedup: one survivor (min doc_id) per distinct content.
    Hash aggregate — partial map-side combine, one shuffle on content
    hash; at scale, group on xxhash64(content) first so the wide text
    column doesn't ride the shuffle."""
    h = F.xxhash64(content_col)
    survivors = (
        docs.select(F.col("doc_id"), h.alias("_h"))
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )
    return survivors


def shingle_docs(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "sh",
) -> DataFrame:
    """(doc, <out_col>): deduped STRING word-n-gram shingle array per
    doc with the token split hoisted (same rationale as
    :func:`hashed_shingle_docs` — the lambda must slice a materialized
    array, not re-split the text per shingle)."""
    base = docs.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("__tk")
    )
    tk = F.col("__tk")
    idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
    gram = lambda i: F.array_join(F.slice(tk, i + 1, n), " ")  # noqa: E731
    return base.select(
        "doc", F.array_distinct(F.transform(idx, gram)).alias(out_col)
    )


def hashed_shingle_docs(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """(doc, sh): deduped hashed word-n-gram shingle array per doc,
    with the token split HOISTED into its own projection.  Higher-order
    function lambdas are CodegenFallback (interpreted, no common-
    subexpression elimination), so a ``split(text)`` referenced inside
    the transform re-splits the document once PER SHINGLE; projecting
    the token array first makes the lambda a pure slice+hash over the
    materialized array (4.6× on the sf0.1 kernel: 1.57 → 0.34 s).
    CollapseProject keeps the projection because the array is
    referenced more than once (sequence bound + slice)."""
    base = docs.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("__tk")
    )
    tk = F.col("__tk")
    idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
    gram = lambda i: F.array_join(F.slice(tk, i + 1, n), " ")  # noqa: E731
    hashed = lambda i: _feature_hash(gram(i), portable)  # noqa: E731
    return base.select(
        "doc", F.array_distinct(F.transform(idx, hashed)).alias("sh")
    )


def _bucket_pairs(flat: DataFrame, key_cols: list[str], payload: list[str]):
    """Within-bucket ordered pairs via ONE grouped aggregate instead of
    a self-join: group ``flat`` by ``key_cols``, collect the (doc,
    *payload) structs sorted ascending, and explode every i<j pair.

    vs. the self-join form (``a.join(b, key).filter(doc_a < doc_b)``):
    the expensive upstream subtree is computed ONCE instead of twice
    (Spark re-executes a self-joined subtree per side), and the two
    join-side Exchanges collapse into one groupBy Exchange.  Hot-key
    fan-out is unchanged — a bucket of f docs yields f(f-1)/2 pairs in
    one task either way, since a shuffled join puts every row of one
    key in one partition too — but the bucket ARRAY is materialized in
    memory, so callers must bound bucket size (``max_doc_freq`` valve /
    exact-dedup before near-dup, as the pipeline already does).

    Returns (doc_a, doc_b, a_<payload...>, b_<payload...>) rows."""
    entry = F.struct(F.col("doc"), *[F.col(c) for c in payload])
    buckets = (
        flat.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(entry)).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    ds = F.col("ds")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(
                    x["doc"].alias("doc_a"),
                    y["doc"].alias("doc_b"),
                    *[x[c].alias(f"a_{c}") for c in payload],
                    *[y[c].alias(f"b_{c}") for c in payload],
                ),
            ),
        )
    )
    return buckets.select(F.explode(pair_arr).alias("p")).select("p.*")


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word-n-gram shingle sets, restricted to pairs
    sharing ≥1 shingle (inverted-index self-join — the candidate set an
    all-pairs cross join would waste 99%+ of its work rediscovering).

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    ``max_doc_freq`` is the skew valve for web-scale corpora: a shingle
    appearing in f docs contributes O(f²) candidate pairs, so a handful
    of boilerplate shingles (headers, license blurbs) can dominate the
    join.  Dropping shingles with doc-frequency > max_doc_freq bounds
    per-key fan-out; the resulting Jaccard is then computed over the
    pruned shingle space (an approximation — standard prefix-filtering
    practice — so it is opt-in and the default stays exact).

    (Measured non-win: an EXACT df≥2 prefilter — singleton shingles
    can't form pairs — ran ~25% slower at the sf0.1 bench because this
    corpus has almost no singletons (207 of 27k shingles), so the
    extra aggregate+semi-join outweighs the discarded join rows.
    Worth revisiting only on corpora with heavy singleton tails.)"""
    # hash the shingles inside the gram transform with the split
    # HOISTED (hashed_shingle_docs) so distinct/explode/grouping all
    # run over 8-byte longs and the text is split once per doc, not
    # once per shingle; candidate pairs come from ONE grouped
    # aggregate over the inverted index (_bucket_pairs) instead of a
    # self-join, so the shingle pipeline runs once instead of twice
    # (r6 A/B at sf0.1: q24 kernel 8.65 → 3.6 s, identical pairs)
    sh = hashed_shingle_docs(docs, n=n, id_col=id_col).withColumn(
        "n_sh", F.size("sh")
    )
    flat = sh.select("doc", "n_sh", F.explode("sh").alias("shingle"))
    if max_doc_freq is not None:
        # valve path: buckets over the doc-frequency-bounded shingle
        # space; set sizes recomputed over the SAME pruned space
        # (including df=1 singleton shingles, which form no pairs but
        # stay in the Jaccard denominator) so intersections and
        # denominators agree
        buckets = (
            flat.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
            .filter(F.size("ds") <= max_doc_freq)
        )
        sizes = (
            buckets.select(F.explode("ds").alias("doc"))
            .groupBy("doc")
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        ds = F.col("ds")
        pair_arr = F.flatten(
            F.transform(
                ds,
                lambda x, i: F.transform(
                    F.slice(ds, i + 2, F.size(ds)),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
        raw = (
            buckets.filter(F.size("ds") > 1)
            .select(F.explode(pair_arr).alias("p"))
            .select("p.*")
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
            .join(sizes.select(F.col("doc").alias("doc_a"),
                               F.col("n_sh").alias("na")), "doc_a")
            .join(sizes.select(F.col("doc").alias("doc_b"),
                               F.col("n_sh").alias("nb")), "doc_b")
        )
    else:
        raw = (
            _bucket_pairs(flat, ["shingle"], ["n_sh"])
            .groupBy("doc_a", "doc_b", F.col("a_n_sh").alias("na"),
                     F.col("b_n_sh").alias("nb"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    pairs = raw.select(
        "doc_a",
        "doc_b",
        (
            F.floor(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
                * 10000 + F.lit(0.5)
            ) / 10000
        ).alias("jaccard"),
    )
    if threshold > 0:
        pairs = pairs.filter(F.col("jaccard") >= threshold)
    return pairs


def _minhash_params(k: int, seed: int = 7) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, MERSENNE - 1)), int(rng.integers(0, MERSENNE - 1)))
        for _ in range(k)
    ]


def minhash_signatures(
    docs: DataFrame, k: int = 16, n: int = 3, id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """k-permutation MinHash signature per doc, computed as k
    ``array_min`` projections over the doc's hashed-shingle array —
    ZERO shuffle, zero UDFs (the r5 form exploded shingles and ran k
    grouped MINs: one full Exchange of every (doc, hash) row that a
    per-doc array fold makes unnecessary — the min of a permutation
    over a doc's shingle set is a row-local quantity).
    Permutation i: (a_i * h + b_i) mod M31 (universal hashing);
    a*h + b < 2^62 so the fold never overflows int64.
    ``portable=True`` keys on md5h (DuckDB-reproducible) instead of
    xxhash64 — same algorithm, oracle-checkable signatures.  Docs with
    NULL text are dropped, matching the explode form's semantics."""
    sh = hashed_shingle_docs(docs, n=n, id_col=id_col, portable=portable)
    hs = F.transform(F.col("sh"), lambda h: F.pmod(h, F.lit(MERSENNE)))
    base = sh.filter(F.col("sh").isNotNull()).select("doc", hs.alias("__hs"))

    def _perm(a: int, b: int):
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE))

    mins = [
        F.array_min(F.transform(F.col("__hs"), _perm(a, b))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_minhash_params(k))
    ]
    return base.select("doc", *mins)


def banded_signatures(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """(doc, band_id, band_hash) — the persistable LSH index of a
    corpus.  At scale this table is written ONCE (bucketed by
    ``band_hash``) and every later batch joins against it; the corpus
    text is never re-shingled.  ``incremental_dedup`` accepts it via
    ``corpus_bands``."""
    sig = minhash_signatures(docs, k=k, n=n, id_col=id_col, portable=portable)
    rows_per_band = k // bands

    def band_key(b: int) -> F.Column:
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        if portable:
            return md5h(F.concat_ws("|", F.lit(str(b)), *cols))
        return F.xxhash64(F.lit(b), *cols)

    band_cols = [band_key(b).alias("band_hash") for b in range(bands)]
    return sig.select(
        "doc",
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_hash"),
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """LSH banding: signature split into ``bands`` rows-per-band groups;
    docs colliding on any full band become candidates.  Returns
    (doc_a, doc_b, n_bands_shared), doc_a < doc_b.  Collision prob for
    Jaccard s: 1-(1-s^(k/bands))^bands.  The band hash is only a join
    key, so its choice never changes the output beyond ~2^-60 collision
    noise; ``portable=True`` uses md5 so DuckDB reproduces it exactly."""
    banded = banded_signatures(
        docs, k=k, bands=bands, n=n, id_col=id_col, portable=portable
    )
    # one grouped aggregate instead of a self-join: the signature
    # pipeline (now itself shuffle-free) runs once, and the two
    # join-side Exchanges collapse into one bucket groupBy
    return (
        _bucket_pairs(banded, ["band_id", "band_hash"], [])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands_shared"))
    )


def minhash_dedup(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Full MinHash-LSH dedup: banded candidates, exact-Jaccard verify,
    survivors = docs not dominated by a smaller near-duplicate id.

    The shingle table below is a lazy ``localCheckpoint`` that this
    function never releases: its blocks are freed by Spark's
    ContextCleaner once the returned frame (whose lineage holds the
    checkpointed RDD) is garbage-collected in the JVM.  A caller-released
    registry like ``filter_unseen``'s ``caches`` does not fit here: the
    result is lazy, and a local checkpoint whose blocks are dropped
    cannot be recomputed — any later action on the result would fail —
    so the release would have to follow the caller's last action, which
    this function never sees.  Every catalog caller would have to thread
    the registry through."""
    cands = minhash_lsh_candidates(
        docs, k=k, bands=bands, n=n, id_col=id_col, portable=portable
    )
    # hashed shingle sets for the verify: array_intersect/array_union
    # over 8-byte longs instead of ~n-word strings — same Jaccard
    # modulo 2^-64 hash collisions, the tolerance q24's oracle already
    # grants this family (hash = xxhash64 regardless of ``portable``:
    # the verify never reaches the oracle's signature bridge).
    # localCheckpoint (lazy): the verify joins this table TWICE (sh_a /
    # sh_b sides), and a self-joined subtree is otherwise computed per
    # side.  Instance-keyed like q45's — recomputed on every
    # invocation, so bench repeats never reuse a previous run's
    # materialization (a plan-keyed .persist() here would).  sf0.1
    # same-session A/B best-of-6: 1.76 → 1.68 s, medians 2.06 → 1.75.
    # Same discipline as connected_components' pairs checkpoint; the
    # at-scale incremental path (incremental_dedup) never builds this
    # corpus-wide table.
    sh = hashed_shingle_docs(docs, n=n, id_col=id_col).localCheckpoint(
        eager=False
    )
    verified = (
        cands.join(sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    dominated = verified.select(F.col("doc_b").alias(id_col)).distinct()
    return docs.join(dominated, id_col, "left_anti")


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    portable: bool = False,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental MinHash dedup: survivors of ``new_docs`` against an
    already-deduped ``corpus``, plus within-batch dedup — WITHOUT ever
    re-deduping the corpus against itself.  This is the only dedup form
    that works at 100 TB: corpus x corpus is quadratic in history,
    batch x corpus is linear in the batch.

    Pass ``corpus_bands`` = persisted ``banded_signatures(corpus)`` to
    skip re-hashing the corpus entirely (the at-scale path; the corpus
    text is then touched only to re-shingle the handful of docs that
    LSH-collide with the batch, reduced by a semi-join first so the
    full corpus text never rides a shuffle).

    Within-batch semantics match ``minhash_dedup`` exactly (doc_b
    dominated by any verified near-dup doc_a < doc_b); corpus
    domination is unordered — any verified corpus match kills the new
    doc.  New and corpus id spaces are assumed disjoint.
    """
    nb = banded_signatures(
        new_docs, k=k, bands=bands, n=n, id_col=id_col, portable=portable
    )
    cb = (
        corpus_bands
        if corpus_bands is not None
        else banded_signatures(
            corpus, k=k, bands=bands, n=n, id_col=id_col, portable=portable
        )
    )
    cross = (
        nb.select(F.col("doc").alias("doc_new"), "band_id", "band_hash")
        .join(
            cb.select(F.col("doc").alias("doc_old"), "band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
        .select("doc_new", "doc_old")
        .distinct()
    )
    # hashed verify sets — same rationale and tolerance as minhash_dedup
    sh_new = hashed_shingle_docs(new_docs, n=n, id_col=id_col).select(
        F.col("doc").alias("doc_new"), F.col("sh").alias("sh_n")
    )
    matched_old = cross.select(F.col("doc_old").alias(id_col)).distinct()
    sh_old = hashed_shingle_docs(
        corpus.join(matched_old, id_col, "left_semi"), n=n, id_col=id_col
    ).select(F.col("doc").alias("doc_old"), F.col("sh").alias("sh_o"))
    dominated = (
        cross.join(sh_new, "doc_new")
        .join(sh_old, "doc_old")
        .filter(
            F.size(F.array_intersect("sh_n", "sh_o")).cast("double")
            / F.size(F.array_union("sh_n", "sh_o"))
            >= threshold
        )
        .select(F.col("doc_new").alias(id_col))
        .distinct()
    )
    within = minhash_dedup(
        new_docs, threshold=threshold, k=k, bands=bands, n=n,
        id_col=id_col, portable=portable,
    )
    return within.join(dominated, id_col, "left_anti")


def _window_flat(
    docs: DataFrame, w: int, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """(base, flat): base = (doc, t:array<token>); flat = one row per
    rolling W-token window, (doc, start, h=xxhash64(window text)).
    Docs shorter than W tokens emit no windows (they cannot contain a
    W-token duplicate)."""
    toks = F.split(F.col(text_col), " ")
    base = docs.select(F.col(id_col).alias("doc"), toks.alias("t"))
    # sequence(0, max(size-w, 0)) then filter i <= size-w: avoids
    # sequence's descending-step surprise when size < w (stop < start
    # counts DOWN, it does not return empty)
    idx = F.filter(
        F.sequence(F.lit(0), F.greatest(F.size("t") - w, F.lit(0))),
        lambda i: i <= F.size("t") - w,
    )
    flat = base.select(
        "doc", F.col("t"), F.explode(idx).alias("start")
    ).select(
        "doc",
        "start",
        F.xxhash64(
            F.array_join(F.slice(F.col("t"), F.col("start") + 1, w), " ")
        ).alias("h"),
    )
    return base, flat


def duplicated_window_stats(
    docs: DataFrame,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc duplicated-passage statistics: (doc_id, n_tokens,
    dup_tokens, dup_ratio) where a token is *duplicated* iff it lies
    inside some W-token window whose exact text occurs ≥2 times in the
    corpus (across docs or repeated within one doc).

    This is the exact-substring dedup signal of Lee et al. 2022
    re-expressed as grouped aggregates instead of a suffix array: a
    length-≥W duplicated substring is exactly a run of duplicated
    rolling windows, so flagged-token sets are identical (for
    substrings ≥ W; shorter repeats are ignored by construction).
    Shuffle shape at 100 TB: explode is narrow (W× row fan-out, no
    shuffle); occurrence counting is one partial-agg groupBy on the
    8-byte window hash; membership is a semi-join on the same key; the
    covered-position count is a second partial-agg groupBy on doc.  No
    all-pairs join, no per-doc sequential pass, no suffix-array sort.
    Boilerplate windows with huge occurrence counts cost one counter
    cell each (the semi-join fans out only to existing flat rows).

    Windows are keyed by xxhash64 of the window text (2^-64-scale
    collision tolerance, as everywhere in this family); the q74 oracle
    replays the same logic on the raw strings.
    """
    base, flat = _window_flat(docs, w, id_col, text_col)
    dup_h = (
        flat.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("h")
    )
    # dup_tokens = |union of [start, start+w-1] intervals| per doc.
    # The r5 form exploded every covered position (a second W× row
    # fan-out) and pushed them through distinct + count — two full
    # Exchanges of w·|dup windows| rows.  Equal-length intervals
    # sorted by start have non-decreasing ends, so the union size is
    # a linear fold over the sorted starts: each window contributes
    # min(w, end - previous_end) new tokens.  One groupBy(doc) whose
    # shuffle carries only the (doc, start) pairs, then a per-doc
    # array fold (memory bounded by doc window count — the same bound
    # the reassembly operators already hold).
    interval_union = F.aggregate(
        F.sort_array(F.collect_list(F.col("start").cast("long"))),
        F.struct(
            F.lit(-1).cast("long").alias("e"), F.lit(0).cast("long").alias("t")
        ),
        lambda acc, s: F.struct(
            (s + F.lit(w - 1)).alias("e"),
            (
                acc["t"]
                + F.least(F.lit(int(w)).cast("long"), s + F.lit(w - 1) - acc["e"])
            ).alias("t"),
        ),
        lambda acc: acc["t"],
    )
    dup_counts = (
        flat.join(dup_h, "h", "left_semi")
        .groupBy("doc")
        .agg(interval_union.alias("dup_tokens"))
    )
    return (
        base.select("doc", F.size("t").cast("long").alias("n_tokens"))
        .join(dup_counts, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
            (
                F.floor(
                    F.coalesce("dup_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens") * 10000 + F.lit(0.5)
                ) / 10000
            ).alias("dup_ratio"),
        )
    )


def strip_duplicated_windows(
    docs: DataFrame,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs with every duplicated token removed: the cleaned text keeps
    tokens (in order) that lie in NO corpus-repeated W-token window.

    Divergence from Lee et al. (documented, deliberate): their
    ExactSubstr keeps one arbitrary copy of each duplicated passage;
    this removes ALL copies, which is deterministic under any
    partitioning (keep-one-copy requires a global first-occurrence
    order — at 100 TB that is a second shuffle for tie-breaking with no
    quality evidence in their ablations).  Output: docs' columns with
    ``text`` replaced and ``n_dropped_tokens`` appended.

    Coverage is carried as MERGED [lo, hi] intervals, not an exploded
    position set (the same sorted-starts interval-union argument as
    ``duplicated_window_stats``: equal-length windows sorted by start
    have non-decreasing ends, so the union folds left-to-right —
    extend the open run while start ≤ prev_hi + 1, else open a new
    one).  The earlier form exploded every covered position (a second
    W× row fan-out) through distinct + collect_set — two Exchanges of
    w·|dup windows| rows — then probed per token with an O(|cov|)
    array_contains; intervals shrink the shuffle to the (doc, start)
    pairs and the per-token probe to O(#runs), with the per-doc array
    bounded by the doc's own window count."""
    base, flat = _window_flat(docs, w, id_col, text_col)
    dup_h = (
        flat.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("h")
    )
    _iv_t = "array<struct<lo:int,hi:int>>"
    interval_union = F.aggregate(
        F.sort_array(F.collect_list(F.col("start"))),
        F.expr(f"CAST(array() AS {_iv_t})"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        (s + F.lit(w - 1)).cast("int").alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        s.cast("int").alias("lo"),
                        (s + F.lit(w - 1)).cast("int").alias("hi"),
                    )
                ),
            )
        ),
    )
    cov_arr = (
        flat.join(dup_h, "h", "left_semi")
        .groupBy("doc")
        .agg(interval_union.alias("cov"))
    )
    joined = docs.join(
        cov_arr.withColumnRenamed("doc", id_col), id_col, "left"
    ).withColumn(
        "cov", F.coalesce("cov", F.expr(f"CAST(array() AS {_iv_t})"))
    )
    kept = F.filter(
        F.split(F.col(text_col), " "),
        lambda tok, i: ~F.exists(
            F.col("cov"), lambda v: (i >= v["lo"]) & (i <= v["hi"])
        ),
    )
    return (
        joined.withColumn("n_dropped_tokens",
                          (F.size(F.split(F.col(text_col), " "))
                           - F.size(kept)).cast("long"))
        .withColumn(text_col, F.array_join(kept, " "))
        .drop("cov")
    )


def simhash(
    docs: DataFrame, bits: int = 16, n: int = 1, id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """SimHash fingerprint: per feature (word n-gram), take the hash's
    bit pattern; each output bit is the sign of the per-bit ±1 vote sum.
    Pure grouped aggregate — ``bits`` conditional sums over one explode.
    ``portable=True`` votes on md5h bits (DuckDB-reproducible).

    Shingles come from :func:`shingle_docs` (split hoisted into its own
    projection) — a split inside the transform lambda would re-split the
    text once PER SHINGLE (HOF lambdas are interpreted; measured 1.94 →
    1.06 s isolated on the sf0.1 q30 surface).
    """
    flat = (
        shingle_docs(docs, n=n, id_col=id_col, out_col="__sh")
        .select(F.col("doc"), F.explode("__sh").alias("feat"))
        .select("doc", _feature_hash(F.col("feat"), portable).alias("h"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{i}")
        for i in range(bits)
    ]
    voted = flat.groupBy("doc").agg(*votes)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"v_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return voted.select("doc", fp.cast("bigint").alias("simhash"))


def simhash_buckets(
    docs: DataFrame, bits: int = 16, n: int = 1, portable: bool = False
) -> DataFrame:
    """Docs sharing an identical SimHash — the hamming-0 candidate
    groups (hamming≤r generalizes by banding the fingerprint)."""
    sh = simhash(docs, bits=bits, n=n, portable=portable)
    return (
        sh.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_sort(F.collect_list("doc")).alias("docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


_EMPTY_PAIRS = {"vec_a": np.int64, "vec_b": np.int64, "cosine": np.float64}


def chunk_grid(bucketed: DataFrame, max_chunk_rows: int) -> DataFrame:
    """Explode (vid, bucket, vec) rows into the chunk-pair grid: rows
    are hash-assigned to ceil(bucket_size / max_chunk_rows) chunks and
    replicated once per chunk of their bucket, keyed by
    (bucket, pair_lo, pair_hi) — each within-bucket pair of rows then
    appears in exactly one grid group, so a grouped verify is exact
    while no group holds more than ~two chunks of rows.  ``sizes`` is
    ≤ #buckets rows → broadcast; n_chunks=1 → zero replication."""
    sizes = bucketed.groupBy("bucket").agg(
        F.ceil(F.count(F.lit(1)) / max_chunk_rows).cast("int").alias("__nchunks")
    )
    return (
        bucketed.join(F.broadcast(sizes), "bucket")
        .withColumn("chunk", F.pmod(F.xxhash64("vid"), F.col("__nchunks")).cast("int"))
        .withColumn("__other", F.explode(F.sequence(F.lit(0), F.col("__nchunks") - 1)))
        .select(
            "bucket", "vid", "vec", "chunk",
            F.least("chunk", "__other").alias("pair_lo"),
            F.greatest("chunk", "__other").alias("pair_hi"),
        )
    )


def _pair_frame(ids_a, ids_b, sims) -> pd.DataFrame:
    """Order each pair (lo, hi) by id; floor-round cosine to 4 places —
    FLOOR(x*1e4+0.5)/1e4 matches the SQL-oracle discipline (np.round is
    banker's and disagrees with DuckDB on .00005 halves)."""
    lo, hi = np.minimum(ids_a, ids_b), np.maximum(ids_a, ids_b)
    return pd.DataFrame(
        {"vec_a": lo, "vec_b": hi,
         "cosine": np.floor(sims * 10000 + 0.5) / 10000}
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_chunk_rows: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-dup: random-hyperplane LSH bucket (sign
    bits of ``n_planes`` fixed seeded projections), then exact cosine
    within buckets via a vectorized pandas verifier (numpy matmul —
    the only Python stage, Arrow-batched).

    Hot-bucket discipline: a bucket is never one task.  Rows are
    hash-assigned to ``ceil(bucket_size / max_chunk_rows)`` chunks and
    each chunk PAIR (i ≤ j) verifies independently, so a pathological
    bucket (near-uniform corpus, or n_planes=0 for the exact all-pairs
    mode) becomes O((b/c)²) bounded tasks instead of one O(b²) task.
    Chunking is exact — every within-bucket pair lands in exactly one
    chunk-pair task — only the task sizing changes.

    ``n_planes=0`` degenerates to ONE bucket = exact all-pairs cosine
    over the whole table (the brute-force baseline, still distributed
    via the chunk grid).
    """
    first = emb.select(F.col(vec_col).alias("v")).first()
    dim = len(first["v"])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy())
            signs = (m @ planes.T) > 0
            bucket = (signs * (1 << np.arange(n_planes))).sum(axis=1)
            yield pd.DataFrame(
                {"vid": pdf[id_col], "bucket": bucket.astype(np.int64),
                 "vec": list(m.astype(np.float64))}
            )

    bucketed = emb.select(id_col, vec_col).mapInPandas(
        bucketize, schema="vid bigint, bucket bigint, vec array<double>"
    )

    gridded = chunk_grid(bucketed, max_chunk_rows)

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {k: [] for k in _EMPTY_PAIRS}).astype(_EMPTY_PAIRS)
        lo_side = pdf[pdf["chunk"] == pdf["pair_lo"].iloc[0]]
        if pdf["pair_lo"].iloc[0] == pdf["pair_hi"].iloc[0]:
            # diagonal task: triangle within one chunk
            ids = lo_side["vid"].to_numpy()
            m = np.stack(lo_side["vec"].to_numpy())
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            u = m / norms
            sims = u @ u.T
            ia, ib = np.triu_indices(len(ids), k=1)
            mask = sims[ia, ib] >= threshold
            return _pair_frame(ids[ia[mask]], ids[ib[mask]], sims[ia, ib][mask])
        # off-diagonal task: full cross between the two chunks (each
        # pair of rows from distinct chunks occurs in exactly this task)
        hi_side = pdf[pdf["chunk"] == pdf["pair_hi"].iloc[0]]
        if not len(lo_side) or not len(hi_side):
            return pd.DataFrame(
                {k: [] for k in _EMPTY_PAIRS}).astype(_EMPTY_PAIRS)

        def unit(rows: pd.DataFrame) -> np.ndarray:
            m = np.stack(rows["vec"].to_numpy())
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            return m / norms

        sims = unit(lo_side) @ unit(hi_side).T
        ia, ib = np.nonzero(sims >= threshold)
        return _pair_frame(
            lo_side["vid"].to_numpy()[ia],
            hi_side["vid"].to_numpy()[ib],
            sims[ia, ib],
        )

    return (
        gridded.groupBy("bucket", "pair_lo", "pair_hi")
        .applyInPandas(verify, schema="vec_a bigint, vec_b bigint, cosine double")
        .dropDuplicates(["vec_a", "vec_b"])
    )


def embedding_neardup_exact(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_chunk_rows: int = 4096,
) -> DataFrame:
    """Exact all-pairs cosine near-dup — the oracle-able baseline:
    n_planes=0 puts every row in one bucket, and the chunk grid
    distributes the O(n²) comparisons across O((n/c)²) bounded tasks.
    Use the LSH variant above at corpus scale; this is the ground-truth
    path for recall measurement and driver-checked correctness."""
    return embedding_neardup_pairs(
        emb, threshold=threshold, n_planes=0, id_col=id_col,
        vec_col=vec_col, max_chunk_rows=max_chunk_rows,
    )
