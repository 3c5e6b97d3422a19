"""Host-graph PageRank for the crawl priority queue — exact integer
arithmetic, iterative joins.

The north-rule priority queue orders the frontier on (host_rank,
depth, recrawl_age, …) (operators/frontier.py:15); the reference
crawler has no notion of host importance — it walks its seed list in
file order (main.py loop).  At web scale the host_rank input is
computed from the link graph, and the classic computation is
PageRank.  This is the Spark-first realization: ``iters`` rounds of
(join on src → groupBy dst), each round one co-keyed shuffle.

Why integer arithmetic: a floating-point PageRank's per-node sums
depend on partition order (doubles are non-associative), so two runs
— or Spark vs the DuckDB oracle — drift in the low bits.  Here rank
mass is held in BIGINT micro-units (``scale`` = 1e12) and every
operation is integer multiply/floor-divide, so the result is
BIT-EXACT regardless of parallelism: the same property the crawl
bench relies on for its byte-identical N vs 4N outputs, and what
makes q79 a full value oracle with no rounding at all.

Semantics (documented precisely so the oracle can mirror):
- nodes = distinct(src) ∪ distinct(dst); N = |nodes|
- r0(v)  = scale div N
- r_{i+1}(v) = (scale·(den−num)) div (den·N)
               + Σ_{(u,v)∈E} (r_i(u)·num) div (den·outdeg(u))
  with damping num/den = 85/100.  Dangling-node mass is dropped (not
  redistributed) — ranks are used ordinally by the priority queue, so
  mass conservation is irrelevant; this keeps every step a single
  grouped aggregate.

100 TB shape: edges shuffle once per iteration on their endpoint
keys (AQE handles skewed hub hosts); ranks are (node, BIGINT) — 16
bytes/row; no driver-side state beyond the loop counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = SCALE,
) -> DataFrame:
    """(node, rank) after ``iters`` integer-PageRank rounds over the
    distinct edge set.  rank is BIGINT micro-units of ``scale``."""
    # The distinct edge set feeds BOTH derived tables (nodes and the
    # outdeg-folded ed): unpersisted, its subtree (upstream joins +
    # the 2|E|-row distinct) runs twice — once for nodes.count() and
    # again when ed materializes.  Lazy persist: nodes.count() is the
    # job that fills the cache.  Intra-invocation only (unpersisted on
    # return); sf0.1 A/B best-of-5: 6.93 → 5.69 s with a far tighter
    # spread, bit-identical ranks.
    # Every cache is released in the finally — on every return path
    # (iters=0 and the empty edge set included) and on exceptions.
    # Safe even when the result still references nodes lazily
    # (iters=0): unpersist only drops the cached copy, the plan
    # recomputes on consumption.
    caches: list = []
    try:
        e = (
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct()
            .persist()
        )
        caches.append(e)
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
        caches.append(nodes)
        n = nodes.count()
        if n == 0:  # empty edge set: no nodes, no ranks (ADVICE r5 —
            # scale // n would raise ZeroDivisionError below)
            return nodes.select(
                "node", F.lit(0).cast("bigint").alias("rank")
            )
        outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
        # pre-fold the damping numerator into the edge table so each
        # iteration is join + groupBy only.  Lazy persist (r6, the r5
        # verdict's suggestion): iteration 1's own contrib job
        # materializes the cache — the CC lazy-checkpoint trick —
        # instead of a separate eager count() job paying the
        # distinct+join cost up front (one full pass over the edge
        # derivation removed; A/B in BENCH/BASELINE.md round-6 notes).
        ed = e.join(outdeg, "src").persist()
        caches.append(ed)

        base = (scale * (damping_den - damping_num)) // (damping_den * n)
        ranks = nodes.select(
            "node", F.lit(scale // n).cast("bigint").alias("r")
        )
        for _ in range(iters):
            contrib = (
                ed.join(ranks, ed["src"] == ranks["node"])
                .select(
                    F.col("dst").alias("node"),
                    F.expr(
                        f"(r * {damping_num}) div ({damping_den} * outdeg)"
                    ).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("c"))
            )
            ranks = nodes.join(contrib, "node", "left").select(
                "node",
                (F.lit(base) + F.coalesce(F.col("c"), F.lit(0)))
                .cast("bigint")
                .alias("r"),
            )
            # truncate lineage each round (GraphX-style): without this
            # the rank plan re-embeds the edge derivation per iteration
            # — the self-join's attribute dedup defeats cache
            # replacement and the physical plan grows ~40 nodes/round.
            # localCheckpoint keeps the partitions executor-side; on a
            # real cluster with lineage-durability requirements use
            # spark.sparkContext.setCheckpointDir + .checkpoint()
            # instead.
            ranks = ranks.localCheckpoint(eager=True)
        return ranks.withColumnRenamed("r", "rank")
    finally:
        for c in caches:
            c.unpersist()
