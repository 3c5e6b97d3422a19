"""Round-5 operators: bigram-LM perplexity (CCNet), DSIR importance
weights, integer PageRank.  Each is checked against an independent
pure-Python replay (the DuckDB oracles in queries.py are the driver's
gate; these replays are a third engine), plus behavioral and
plan-shape assertions."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from fide_crawler_spark.operators.dsir import dsir_weights
from fide_crawler_spark.operators.hostrank import pagerank
from fide_crawler_spark.operators.lmquality import lm_perplexity

DOCS = [
    ("d1", "the cat sat on the mat"),
    ("d2", "the cat sat on the cat"),
    ("d3", "qq zz xx qq zz yy"),  # out-of-distribution junk
    ("d4", "the mat"),
    ("d5", "solo"),  # 1 token → no bigrams → excluded
]


def _py_lm(docs, vocab_size, add_k):
    """Independent replay of lm_perplexity's documented semantics."""
    toks = {d: t.split(" ") for d, t in docs}
    uni: dict[str, int] = {}
    for t in toks.values():
        for w in t:
            uni[w] = uni.get(w, 0) + 1
    vocab = set(
        w for w, _ in sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    )
    vp = len(vocab) + 1
    m = {d: [w if w in vocab else "<unk>" for w in t] for d, t in toks.items()}
    cu: dict[str, int] = {}
    cb: dict[tuple, int] = {}
    for t in m.values():
        for w in t:
            cu[w] = cu.get(w, 0) + 1
        for a, b in zip(t, t[1:]):
            cb[(a, b)] = cb.get((a, b), 0) + 1
    out = {}
    for d, t in m.items():
        if len(t) < 2:
            continue
        s = 0
        for a, b in zip(t, t[1:]):
            lp = math.log((cb[(a, b)] + add_k) / (cu[a] + add_k * vp))
            s += math.floor(lp * 1e9 + 0.5)
        n = len(t) - 1
        nll = -(s / (n * 1e9))
        out[d] = (
            n,
            math.floor(nll * 1e4 + 0.5) / 1e4,
            math.floor(math.exp(nll) * 1e4 + 0.5) / 1e4,
        )
    return out


def test_lm_perplexity_matches_python_replay(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll"], r["ppl"])
        for r in lm_perplexity(docs, vocab_size=4, add_k=0.5).collect()
    }
    assert got == _py_lm(DOCS, 4, 0.5)


def test_lm_perplexity_ranks_junk_worse(spark):
    # vocab wide enough that junk tokens stay distinct types (with a
    # tiny vocab they ALL collapse to <unk> and <unk>-<unk> becomes a
    # frequent bigram — the documented reason CCNet sizes its vocab to
    # the trusted corpus, not the crawl)
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {r["doc_id"]: r["ppl"] for r in lm_perplexity(docs, vocab_size=16).collect()}
    # d3 is gibberish relative to the corpus: strictly worse than the
    # in-distribution docs
    assert got["d3"] > got["d1"] and got["d3"] > got["d2"]
    assert "d5" not in got  # no bigrams


def test_lm_perplexity_train_corpus_separate(spark):
    """CCNet trains on a trusted corpus and scores the crawl: with
    train_docs = in-domain docs only, junk diverges even further."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    train = docs.filter(F.col("doc_id").isin("d1", "d2", "d4"))
    got = {r["doc_id"]: r["ppl"] for r in lm_perplexity(docs, train_docs=train, vocab_size=4).collect()}
    assert got["d3"] > 2 * got["d1"]


def test_lm_perplexity_plan_is_jvm_only(spark, sf_dir):
    from fide_crawler_spark.plans import formatted_plan
    from fide_crawler_spark.queries import QUERIES

    plan = formatted_plan(QUERIES["q77_lm_perplexity"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan  # bigrams via higher-order fns, no window
    assert "BroadcastHashJoin" in plan  # model tables broadcast


# ---------------------------------------------------------------- DSIR


def _md5h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_dsir(docs, targets, B, add_k):
    feats = []
    for d, t in docs:
        toks = t.split(" ")
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        for g in grams:
            feats.append((d, d in targets, _md5h(g) % B))
    cnt: dict[int, list] = {}
    for _, tgt, b in feats:
        c = cnt.setdefault(b, [0, 0])
        c[0] += 1
        c[1] += int(tgt)
    tc = sum(c[0] for c in cnt.values())
    tt = sum(c[1] for c in cnt.values())
    lr = {
        b: math.floor(
            math.log(
                ((c[1] + add_k) / (tt + add_k * B))
                / ((c[0] + add_k) / (tc + add_k * B))
            )
            * 1e9
            + 0.5
        )
        for b, c in cnt.items()
    }
    out = {}
    for d, _ in docs:
        rows = [lr[b] for dd, _, b in feats if dd == d]
        avg = sum(rows) / (len(rows) * 1e9)
        out[d] = (
            int(d in targets),
            len(rows),
            math.floor(avg * 1e4 + 0.5) / 1e4,
        )
    return out


def test_dsir_matches_python_replay(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["is_target"], r["n_feats"], r["avg_lr"])
        for r in dsir_weights(
            docs, F.col("doc_id").isin("d1", "d2"), n_buckets=64, portable=True
        ).collect()
    }
    assert got == _py_dsir(DOCS, {"d1", "d2"}, 64, 1.0)


def test_dsir_scores_target_like_docs_higher(spark):
    """d4 shares its features with the target docs (d1/d2); d3 shares
    nothing — DSIR must order them accordingly."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["avg_lr"]
        for r in dsir_weights(
            docs, F.col("doc_id").isin("d1", "d2"), n_buckets=64, portable=True
        ).collect()
    }
    assert got["d4"] > got["d3"]
    assert got["d1"] > got["d3"]


def test_dsir_plan_broadcasts_ratio_table(spark, sf_dir):
    from fide_crawler_spark.plans import formatted_plan
    from fide_crawler_spark.queries import QUERIES

    plan = formatted_plan(QUERIES["q78_dsir_importance"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------------------ PageRank


EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
    # e is a dangling sink target: receives, never emits
    ("a", "e"),
]


def _py_pagerank(edges, iters, scale=10**12, num=85, den=100):
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    out: dict[str, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    base = (scale * (den - num)) // (den * n)
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        nxt = {v: base for v in nodes}
        for s, d in edges:
            nxt[d] += (r[s] * num) // (den * out[s])
        r = nxt
    return r


def test_pagerank_matches_python_replay(spark):
    e = spark.createDataFrame(EDGES + EDGES[:2], ["src", "dst"])  # dups collapse
    got = {r["node"]: r["rank"] for r in pagerank(e, iters=3).collect()}
    assert got == _py_pagerank(EDGES, 3)


def test_pagerank_is_exact_integer_deterministic(spark):
    """Integer arithmetic ⇒ bit-identical across repartitionings —
    the same property the crawl bench's N vs 4N output check needs."""
    e = spark.createDataFrame(EDGES, ["src", "dst"])
    a = sorted(map(tuple, pagerank(e, iters=4).collect()))
    b = sorted(map(tuple, pagerank(e.repartition(7), iters=4).collect()))
    assert a == b


def test_pagerank_hub_outranks_leaf(spark):
    e = spark.createDataFrame(EDGES, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(e, iters=3).collect()}
    # c receives from a, b, d — the hub; d receives nothing
    assert got["c"] == max(got.values())
    assert got["d"] == min(got.values())


def test_pagerank_feeds_priority_queue(spark):
    """Integration: host ranks from the link graph order the frontier
    (north-rule host_rank input, operators/frontier.py)."""
    from fide_crawler_spark.operators.frontier import (
        generate_frontier,
        priority_order,
    )

    e = spark.createDataFrame(EDGES, ["src", "dst"])
    ranks = pagerank(e, iters=3)
    seeds = spark.createDataFrame(
        [("100", 0, "a"), ("200", 1, "c")], ["fide_id", "seed_pos", "host"]
    )
    seeds = (
        seeds.join(ranks, seeds["host"] == ranks["node"])
        # frontier priority sorts host_rank ASC first → negate so the
        # higher-PageRank host dequeues first
        .select("fide_id", "seed_pos", (-F.col("rank")).alias("host_rank"))
    )
    fr = generate_frontier(seeds, "2024-01-01", "2024-02-01")
    first = fr.orderBy(*priority_order()).first()
    assert first["fide_id"] == "200"  # the hub host crawls first


def test_dsir_xxhash_buckets_are_nonnegative(spark):
    """ADVICE r5: the portable=False path used %, whose Spark semantics
    keep the dividend's sign — xxhash64 features landed in negative
    buckets, mis-normalizing the add-k smoothing.  pmod pins [0, B)."""
    from fide_crawler_spark.operators.dsir import dsir_weights

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de",
          f"tok{i} tok{i+1} tok{i+2} shared words here") for i in range(40)],
        ["doc_id", "lang", "text"],
    )
    out = dsir_weights(
        docs, F.col("lang") == "en", n_buckets=16, portable=False
    )
    # every doc scores (a negative bucket would desync the lr join and
    # drop rows) and the internal bucket expression stays in range
    assert out.count() == 40
    from fide_crawler_spark.operators.dsir import _feature_hash

    b = (
        docs.select(
            F.pmod(_feature_hash(F.col("text"), False), F.lit(16)).alias("b")
        )
        .agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
        .first()
    )
    assert 0 <= b["lo"] and b["hi"] < 16


def test_pagerank_empty_edges(spark):
    """ADVICE r5: scale // n with n=0 raised ZeroDivisionError."""
    e = spark.createDataFrame([], "src string, dst string")
    assert pagerank(e, iters=3).count() == 0


def test_pagerank_releases_caches_when_iteration_raises(spark, monkeypatch):
    """An exception mid-iteration releases the edge, node and
    outdeg-folded caches, not only the normal return paths."""
    DataFrame = type(spark.range(1))  # the concrete (classic) class
    persisted: list = []
    real_persist = DataFrame.persist

    def tracking_persist(self, *a, **kw):
        persisted.append(self)
        return real_persist(self, *a, **kw)

    def failing_checkpoint(self, *a, **kw):
        raise RuntimeError("iteration failed")

    monkeypatch.setattr(DataFrame, "persist", tracking_persist)
    monkeypatch.setattr(DataFrame, "localCheckpoint", failing_checkpoint)
    e = spark.createDataFrame(EDGES, ["src", "dst"])
    with pytest.raises(RuntimeError, match="iteration failed"):
        pagerank(e, iters=3)
    assert len(persisted) == 3
    for df in persisted:
        level = df.storageLevel
        assert not (level.useMemory or level.useDisk)
