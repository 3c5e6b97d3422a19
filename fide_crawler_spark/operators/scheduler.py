"""Epoch-loop crawl scheduler over snapshot tables.

Reference behavior being reproduced
(``/root/reference/data_processing/data_fetching_processing.py``):

* sequential fetch loop in list order (``:140``) → per-epoch dequeue of
  the top-priority frontier rows (player seed order, month ascending —
  the priority columns make the reference's order a sort key);
* cache-aware gap analysis — months already fetched are never refetched
  (``:216-234``) → Bloom pre-pass + exact anti-join vs the URL-seen set;
* swallow-and-skip errors (``:195-196``) + ``@retry``
  (``old_scripts/fide-games-scraper-public.py:48``) → failed rows stay
  pending with ``retry_count + 1``;
* per-crawl SQLite commit (``:236``) → atomic snapshot per epoch of
  {frontier, documents, Bloom state, lineage/metrics}: a killed job
  resumes from the latest manifest with identical final output
  (test_scheduler.py::test_resume).

Each epoch is one batch pipeline — dequeue → fused fetch+parse (one
Arrow stage) → append — i.e. the ``foreachBatch`` shape of Structured
Streaming realized as a driver loop over snapshots (SURVEY §2.I):
simpler, and snapshot commits give exactly-once semantics for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fide_crawler_spark.operators.frontier import priority_order
from fide_crawler_spark.operators.parse import fetch_parse_stage
from fide_crawler_spark.operators.rank import dequeue_rank
from fide_crawler_spark.operators.urlseen import (
    PartitionedBloom,
    PartitionedCuckoo,
    build_bloom,
    filter_unseen,
    update_cuckoo,
)
from fide_crawler_spark.sources.snapshot import SnapshotTable

BLOOM_STATE = "urlseen-bloom.bin"
CUCKOO_STATE = "urlseen-cuckoo.bin"
# URL-seen shards: the Bloom and the cuckoo filter are both split by
# url_hash % BLOOM_PARTS, so the two stay co-partitioned
BLOOM_PARTS = 8


class CrawlJob:
    """Resumable crawl over a frontier snapshot table.

    ``workdir/frontier`` — frontier state, one overwrite snapshot per
    epoch (real Iceberg would MERGE and rewrite only touched files; the
    frontier is partitionable by ``period`` so touched-file rewrite
    prunes to the months actually dequeued).
    ``workdir/documents`` — parsed span docs, append snapshots.
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        budget_per_host: int = 64,
        fetch_mode: str = "synthetic",
        page_weight: int = 1,
        bloom_bits_per_part: int = 1 << 20,
        enable_cuckoo: bool = False,
        respect_robots: bool = False,
        retain_snapshots: int | None = None,
        compact_docs_every: int | None = None,
    ):
        self.spark = spark
        self.workdir = workdir
        self.budget = budget_per_host
        self.fetch_mode = fetch_mode
        self.page_weight = page_weight
        self.bloom_bits = bloom_bits_per_part
        self.enable_cuckoo = enable_cuckoo
        self.respect_robots = respect_robots
        # retention (Iceberg expire_snapshots): keep the newest K
        # snapshots of frontier+documents after each epoch commit.  At
        # 10^10 URLs an unbounded history accumulates one frontier file
        # set per epoch forever; K≥2 keeps the crash-reconciliation
        # window (resume reads only the latest snapshot; doc re-appends
        # are idempotent via read_documents' latest-copy rule).
        # Incremental consumers (read_new_documents) must keep up
        # within the window — beyond it their since_snap manifest is
        # expired and the read fails, exactly Iceberg's semantics.
        if retain_snapshots is not None and retain_snapshots < 2:
            raise ValueError("retain_snapshots must be >= 2 (or None)")
        self.retain_snapshots = retain_snapshots
        # the doc table is an append chain — one file set per epoch, all
        # referenced by the latest manifest forever.  Periodic compaction
        # (Iceberg rewrite_data_files) folds them into one set; with
        # retention on, the next expiry then collects the released sets
        # — together the full storage-reclaim cycle.  At cluster scale
        # compact per partition / off the critical path; here it rides
        # the epoch loop.
        if compact_docs_every is not None and compact_docs_every < 1:
            raise ValueError("compact_docs_every must be >= 1 (or None)")
        self.compact_docs_every = compact_docs_every
        self.frontier_tbl = SnapshotTable(os.path.join(workdir, "frontier"))
        self.docs_tbl = SnapshotTable(os.path.join(workdir, "documents"))
        self.robots_tbl = SnapshotTable(os.path.join(workdir, "robots"))

    # -- lifecycle ---------------------------------------------------------
    def init(self, frontier: DataFrame) -> None:
        """Epoch -1 snapshot: full pending frontier + empty Bloom."""
        if self.frontier_tbl.latest() is not None:
            return  # already initialized — resume instead
        if "url_hash" not in frontier.columns:
            frontier = frontier.withColumn("url_hash", F.xxhash64("url"))
        if self.respect_robots:
            # robots.txt cache (north rule): one fetch per distinct
            # host, rules snapshot-persisted, admission enforced by
            # marking disallowed rows blocked (audit trail; they never
            # reach the dequeue, which selects status='pending')
            from fide_crawler_spark.operators.robots import (
                fetch_robots,
                robots_filter,
            )

            robots = fetch_robots(frontier, mode=self._robots_mode())
            self.robots_tbl.commit(robots, metrics={"epoch": -1})
            robots = self.robots_tbl.read(frontier.sparkSession)
            frontier = robots_filter(frontier, robots, mark=True)
        bloom = PartitionedBloom(BLOOM_PARTS, self.bloom_bits)
        state = {BLOOM_STATE: bloom.to_bytes()}
        if self.enable_cuckoo:
            state[CUCKOO_STATE] = PartitionedCuckoo(BLOOM_PARTS).to_bytes()

        # single materialization: status counts derived from the written
        # files (finalize pattern), not from extra jobs over the input
        # plan.  'total' counts every non-blocked row — fetched rows in
        # an imported frontier must keep total > pending so run_epoch's
        # URL-seen skip proof ("pending == total ⇒ nothing fetched yet")
        # stays sound.
        def finalize(data_path: str):
            spark = frontier.sparkSession
            counts = {
                r["status"]: int(r["count"])
                for r in spark.read.parquet(data_path).groupBy("status").count().collect()
            }
            n_blocked = counts.get("blocked", 0)
            n_total = sum(counts.values()) - n_blocked
            return {
                "epoch": -1,
                "pending": counts.get("pending", 0),
                "total": n_total,
                "blocked": n_blocked,
            }, None

        self.frontier_tbl.commit_partition_overwrite(
            frontier, "period", state=state, finalize=finalize
        )

    def _robots_mode(self) -> str:
        return "http" if self.fetch_mode == "http" else "synthetic"

    def epoch(self) -> int:
        return int(self.frontier_tbl.manifest()["metrics"]["epoch"])

    def pending_count(self) -> int:
        return int(self.frontier_tbl.manifest()["metrics"]["pending"])

    # -- one epoch -----------------------------------------------------------
    def run_epoch(self) -> dict:
        spark = self.spark
        e = self.epoch() + 1
        frontier = self.frontier_tbl.read(spark)
        pending = frontier.filter(F.col("status") == "pending")

        # Every cache this epoch creates is registered in _caches and
        # released in the one finally below — on exception paths too,
        # or each would hold a candidate-set-sized cache for the rest
        # of the session.
        _caches: list = []
        _stats: dict = {}
        try:
            # URL-seen: Bloom pre-pass over fetched set, exact anti-join
            # backstop.  Skipped while the seen set is provably empty (no
            # successful fetch yet, per snapshot metrics).  The probe
            # result is cached in _caches so the pandas probe runs once
            # per candidate, not once per union branch.
            m = self.frontier_tbl.manifest()["metrics"]
            bloom = PartitionedBloom.from_bytes(self.frontier_tbl.state(BLOOM_STATE))
            if int(m.get("total", -1)) == int(m["pending"]):
                candidates = pending
            else:
                seen = frontier.filter(F.col("status") == "fetched")
                candidates = filter_unseen(spark, pending, seen, bloom, caches=_caches)

            # Persist the candidate set before ranking: dequeue_rank's
            # range-boundary sample job and its shuffle map both scan the
            # input, so without this the URL-seen chain (Bloom prepass +
            # exact anti-join) runs TWICE per epoch — pure per-epoch
            # overhead that does not shrink with executor count.  Disk-
            # spillable, bounded by the pending set — the same order as
            # the sorted layout dequeue_rank itself persists.
            candidates = candidates.persist()
            _caches.append(candidates)
            # fused dequeue: politeness budget per host + global crawl
            # rank in one sorted pass (operators/rank.py dequeue_rank — a
            # windowed rank would serialize the batch into one task); it
            # registers its persisted sort layout in _caches.
            batch = dequeue_rank(
                candidates, "host", priority_order(), self.budget, "rank",
                caches=_caches, stats_out=_stats,
            ).persist()
            _caches.append(batch)
            # n_batch comes from the dequeue's own pass-1 statistics — no
            # extra count() job; the batch cache materializes lazily inside
            # the fetch stage's first action.
            n_batch = _stats["n_survivors"]
            if n_batch == 0:
                return {"epoch": e, "dequeued": 0, "done": True}

            # fused fetch+parse (one Arrow round-trip, meta passthrough, no
            # join — see parse.fetch_parse_stage).  The batch leaves the
            # rank stage range-partitioned by priority — rebalance on url so
            # the fetch/parse Arrow workers use every core.
            n_fetch_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            docs_all = fetch_parse_stage(
                batch.repartition(n_fetch_parts, "url"),
                mode=self.fetch_mode,
                weight=self.page_weight,
            )
            docs_ok = (
                docs_all.filter(F.col("status") == "fetched")
                .drop("status")
                .withColumnRenamed("rank", "crawl_rank")
                .withColumn("epoch", F.lit(e))
                # precomputed so metadata queries (lineage, bench checksums)
                # never have to re-read the nested spans column
                .withColumn("n_spans", F.size("spans"))
            )

            # single materialization: commit the span snapshot; exact
            # metrics + per-file lineage come from the written files
            # (Iceberg manifest-stats pattern)
            def finalize(data_path: str):
                per_file = (
                    spark.read.parquet(data_path)
                    .groupBy(F.input_file_name().alias("file"))
                    .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_spans").alias("spans"))
                    .collect()
                )
                lineage = [
                    {
                        "file": os.path.basename(r["file"]),
                        "docs": int(r["docs"]),
                        "spans": int(r["spans"]),
                    }
                    for r in per_file
                ]
                n = sum(x["docs"] for x in lineage)
                return {"epoch": e, "docs": n}, lineage

            docs_snap = self.docs_tbl.commit(
                docs_ok, mode="append", finalize=finalize
            )
            docs_manifest = self.docs_tbl.manifest(docs_snap)
            n_fetched = int(docs_manifest["metrics"]["docs"])
            n_failed = n_batch - n_fetched
            lineage = docs_manifest["lineage"]

            # frontier state transition from the committed snapshot: fetched
            # keys = this epoch's written doc_ids; every other dequeued row
            # failed → retry_count+1, stays pending.
            epoch_dir = os.path.join(self.docs_tbl.root, f"snap-{docs_snap:05d}/data")
            fetched_keys = spark.read.parquet(epoch_dir).select(
                F.col("doc_id").alias("url")
            )
            # touched-partition rewrite (Iceberg dynamic overwrite): only
            # the period partitions the dequeue actually touched are
            # rewritten — at a 10^10-row frontier the untouched months'
            # files carry forward by manifest reference, not by re-write.
            # The touched-value collect is metadata-scale (≤ distinct
            # periods in one politeness-bounded batch).
            touched = [
                r["period"] for r in batch.select("period").distinct().collect()
            ]
            # The frontier joins the dequeued and the fetched keys one at a
            # time, each a small build side Spark broadcasts while the
            # frontier streams in file order.  Joining batch to
            # fetched_keys first would not do: Spark sizes a left join as
            # the product of its inputs, so that outcome frame would be
            # shuffled against the frontier instead of broadcast.
            fetched = F.col("_fetched").isNotNull()
            new_frontier = (
                frontier.filter(F.col("period").isin(touched))
                .join(batch.select("url", F.lit(True).alias("_dequeued")), "url", "left")
                .join(fetched_keys.withColumn("_fetched", F.lit(True)), "url", "left")
                .withColumn(
                    "retry_count",
                    F.when(
                        F.col("_dequeued").isNotNull() & ~fetched,
                        F.col("retry_count") + 1,
                    ).otherwise(F.col("retry_count")),
                )
                .withColumn(
                    "status",
                    F.when(fetched, F.lit("fetched")).otherwise(F.col("status")),
                )
                .withColumn(
                    "epoch", F.when(fetched, F.lit(e)).otherwise(F.col("epoch"))
                )
                .drop("_dequeued", "_fetched")
            )

            # Bloom maintenance: one JVM aggregate over this epoch's fetched
            # hashes (from the committed files), OR-merged
            epoch_bloom = build_bloom(
                fetched_keys.select(F.xxhash64("url").alias("url_hash")),
                "url_hash", BLOOM_PARTS, self.bloom_bits,
            )
            bloom.merge(epoch_bloom)

            state = {BLOOM_STATE: bloom.to_bytes()}
            if self.enable_cuckoo:
                # deletable URL-seen variant: maintained alongside the Bloom
                # so force_recrawl can remove fingerprints (Bloom cannot).
                # Sharded per url_hash % n_parts exactly like
                # PartitionedBloom: this epoch's hashes are shuffled to
                # their parts and inserted executor-side; an overflowing
                # part is rebuilt bigger (again executor-side) from the
                # fetched rows of the updated frontier.  The driver handles
                # filter blobs only — no collect() of row-scale data.
                ck = PartitionedCuckoo.from_bytes(self.frontier_tbl.state(CUCKOO_STATE))
                epoch_hashes = fetched_keys.select(F.xxhash64("url").alias("url_hash"))
                # rebuild source of truth = previously fetched (parent
                # snapshot) ∪ this epoch's fetches — disjoint sets, since an
                # epoch only dequeues pending rows
                all_fetched = (
                    frontier.filter(F.col("status") == "fetched")
                    .select("url_hash")
                    .unionByName(epoch_hashes)
                )
                ck = update_cuckoo(spark, epoch_hashes, all_fetched, ck)
                state[CUCKOO_STATE] = ck.to_bytes()

            # pending after this epoch = previous pending − fetched (failed
            # rows stay pending); derived from metrics to save a recompute
            n_pending = self.pending_count() - n_fetched
            self.frontier_tbl.commit_partition_overwrite(
                new_frontier,
                "period",
                touched_values=touched,
                metrics={
                    "epoch": e,
                    "dequeued": n_batch,
                    "fetched": n_fetched,
                    "failed": n_failed,
                    "pending": n_pending,
                    "total": int(m.get("total", -1)),
                    "blocked": int(m.get("blocked", 0)),
                },
                state=state,
                lineage=lineage,
            )
            if (
                self.compact_docs_every is not None
                and e % self.compact_docs_every == 0
                and len(self.docs_tbl.manifest()["data_paths"]) > 1
            ):
                self.docs_tbl.compact(spark)
            if self.retain_snapshots is not None:
                # after the commit point only — an expired history can never
                # be observed mid-epoch
                self.frontier_tbl.expire_snapshots(self.retain_snapshots)
                self.docs_tbl.expire_snapshots(self.retain_snapshots)
            return {
                "epoch": e,
                "dequeued": n_batch,
                "fetched": n_fetched,
                "failed": n_failed,
                "pending": n_pending,
                "done": n_pending == 0,
            }
        finally:
            for c in _caches:
                c.unpersist()

    def run(self, max_epochs: int = 1000) -> list[dict]:
        stats = []
        for _ in range(max_epochs):
            s = self.run_epoch()
            stats.append(s)
            if s.get("done"):
                break
        return stats

    # -- reads ----------------------------------------------------------------
    def read_documents(self, snap: int | None = None) -> DataFrame:
        """Docs as of a snapshot, one row per doc_id keeping the LATEST
        (epoch, crawl_rank) copy: idempotent under crash-replay
        re-appends (identical content either way) AND correct under
        forced recrawl, where the later epoch carries the refreshed
        fetch — keeping the earliest would pin stale content forever.
        """
        docs = self.docs_tbl.read(self.spark, snap)
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy(
            F.desc("epoch"), F.desc("crawl_rank")
        )
        return (
            docs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def read_new_documents(self, since_snap: int) -> DataFrame:
        """Incremental-consumer surface (Iceberg incremental scan): only
        the docs committed after ``since_snap`` — what a downstream
        dedup/indexing job reads per epoch instead of the full table."""
        return self.docs_tbl.read_changes(self.spark, since_snap)

    def crawl_order(self) -> list[str]:
        """Realized crawl order: (epoch, crawl_rank) ascending."""
        return [
            r["doc_id"]
            for r in self.read_documents()
            .select("doc_id", "epoch", "crawl_rank")
            .orderBy("epoch", "crawl_rank")
            .collect()
        ]

    # -- forced recrawl (requires enable_cuckoo) ---------------------------
    def force_recrawl(self, urls: DataFrame) -> int:
        """Re-admit specific URLs (north star: cuckoo-filter variant for
        deletions): delete their fingerprints from the deletable
        URL-seen filter, reset their frontier rows to pending with a
        recrawl_age priority boost, and commit a metadata+data snapshot.
        The Bloom filter is left as-is — it may report the URL as
        maybe-seen, but the exact anti-join backstop checks against
        frontier status, which this resets, so re-admission is correct
        (Bloom false-positives only cost the backstop join)."""
        assert self.enable_cuckoo, "force_recrawl requires enable_cuckoo=True"
        from fide_crawler_spark.operators.recrawl import force_recrawl as _fr

        frontier = self.frontier_tbl.read(self.spark)
        ck = PartitionedCuckoo.from_bytes(self.frontier_tbl.state(CUCKOO_STATE))
        # touched-partition rewrite: only periods containing a forced
        # URL are re-committed (metadata-scale collect)
        touched = [
            r["period"]
            for r in frontier.join(urls.select("url").distinct(), "url", "left_semi")
            .select("period").distinct().collect()
        ]
        sub = frontier.filter(F.col("period").isin(touched))
        updated, ck = _fr(sub, urls, ck)
        m = self.frontier_tbl.manifest()["metrics"]
        # only rows that actually flip fetched→pending change the count
        # (forcing an already-pending, blocked, or unknown URL is a no-op)
        n_forced = (
            frontier.filter(F.col("status") == "fetched")
            .join(urls.select("url").distinct(), "url", "left_semi")
            .count()
        )
        state = self.frontier_tbl.carry_state()
        state[CUCKOO_STATE] = ck.to_bytes()
        return self.frontier_tbl.commit_partition_overwrite(
            updated,
            "period",
            touched_values=touched,
            metrics={**m, "pending": int(m["pending"]) + n_forced,
                     "forced": n_forced},
            state=state,
        )
