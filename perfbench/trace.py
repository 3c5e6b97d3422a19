"""Traced run: spans around calls into each layer, plus Spark stage
metrics per span from the event log.

Spans are kept in memory as (id, name, parent, run id, start, end,
attributes) and written out when the run ends.  Every span also sets
the Spark job group to its own id, so each Spark job is attributed to
the innermost span that submitted it.  Wrappers are installed only in
the traced process; the untraced run calls the program unmodified.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np

from perfbench.workloads import tree_size

JOB_GROUP = "spark.jobGroup.id"
BENCH_PREFIX = "bench."  # benchmark-side work inside a layer span


class NullTracer:
    """Untraced run: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield attrs


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, f"span-{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev_group)


def _data_files(table, snap: int) -> tuple[int, int]:
    """(files, bytes) of one committed snapshot's data file set."""
    return tree_size(os.path.join(table._dir(snap), "data"))


def install(tracer: Tracer) -> None:
    """Wrap the public names the crawl scheduler calls into.

    ``filter_unseen`` and ``fetch_parse_stage`` return lazy DataFrames:
    their spans time plan construction only, and their Spark work runs
    inside the next eager call (``dequeue_rank`` for the URL-seen
    candidates, the docs ``SnapshotTable.commit`` for fetch+parse).
    """
    import fide_crawler_spark.operators.scheduler as sched
    from fide_crawler_spark.sources.snapshot import SnapshotTable

    def wrap_filter_unseen(fn):
        def filter_unseen(spark, candidates, seen, bloom, *a, **kw):
            with tracer.span("urlseen.filter_unseen", lazy=True):
                out = fn(spark, candidates, seen, bloom, *a, **kw)
            # counts for the useful-ratio, taken bench-side (extra jobs)
            with tracer.span("bench.urlseen_count") as rec:
                hashes = np.array(
                    [r[0] for r in candidates.select("url_hash").collect()],
                    dtype=np.int64,
                ).astype(np.uint64)
                rec["candidates"] = int(len(hashes))
                rec["maybe_seen"] = (
                    int(bloom.might_contain(hashes).sum()) if bloom is not None else 0
                )
                rec["dropped"] = rec["candidates"] - out.count()
            return out

        return filter_unseen

    def wrap_dequeue_rank(fn):
        def dequeue_rank(df, *a, **kw):
            stats = kw.setdefault("stats_out", {})
            with tracer.span("rank.dequeue_rank") as rec:
                out = fn(df, *a, **kw)
            rec["rows_out"] = int(stats.get("n_survivors", 0))
            with tracer.span("bench.rank_count"):
                rec["rows_in"] = df.count()
            return out

        return dequeue_rank

    def wrap(fn, name, **attrs):
        def traced(*a, **kw):
            with tracer.span(name, **attrs):
                return fn(*a, **kw)

        return traced

    def wrap_commit(fn):
        def commit(self, df, *a, **kw):
            table = os.path.basename(self.root)
            name = "parse.docs_commit" if table == "documents" else f"snapshot.{table}_commit"
            with tracer.span(name) as rec:
                snap = fn(self, df, *a, **kw)
            rec["files"], rec["bytes"] = _data_files(self, snap) if df is not None else (0, 0)
            if table == "documents":
                m = self.manifest(snap)
                rec["docs"] = int(m["metrics"].get("docs", 0))
                rec["spans"] = sum(int(x["spans"]) for x in m["lineage"])
            return snap

        return commit

    def wrap_overwrite(fn):
        def commit_partition_overwrite(self, updates, partition_col, *a, **kw):
            table = os.path.basename(self.root)
            with tracer.span(f"snapshot.{table}_commit") as rec:
                prev = self.latest()
                snap = fn(self, updates, partition_col, *a, **kw)
            parts = self.manifest(snap)["partitions"]
            prev_parts = self.manifest(prev).get("partitions", {}) if prev is not None else {}
            rec["partitions"] = sum(1 for v, p in parts.items() if prev_parts.get(v) != p)
            rec["files"], rec["bytes"] = _data_files(self, snap)
            return snap

        return commit_partition_overwrite

    def wrap_epoch(fn):
        def run_epoch(self):
            with tracer.span("scheduler.run_epoch") as rec:
                out = fn(self)
            rec.update({k: out.get(k, 0) for k in ("dequeued", "fetched", "failed")})
            return out

        return run_epoch

    sched.filter_unseen = wrap_filter_unseen(sched.filter_unseen)
    sched.dequeue_rank = wrap_dequeue_rank(sched.dequeue_rank)
    sched.fetch_parse_stage = wrap(sched.fetch_parse_stage, "parse.fetch_parse_stage", lazy=True)
    sched.build_bloom = wrap(sched.build_bloom, "urlseen.build_bloom")
    SnapshotTable.commit = wrap_commit(SnapshotTable.commit)
    SnapshotTable.commit_partition_overwrite = wrap_overwrite(
        SnapshotTable.commit_partition_overwrite
    )
    sched.CrawlJob.run_epoch = wrap_epoch(sched.CrawlJob.run_epoch)


# -- Spark stage metrics from the event log --------------------------------

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
}


def group_metrics(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs started, executor run time, shuffle write
    and spill bytes of its completed stages.  Read after the Spark
    context stopped, so the log is complete."""
    groups: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}
    # rolling event logs: eventlog_v2_<app>/events_<n>_<app>, in order
    paths = sorted(
        (int(n.split("_")[1]), os.path.join(d, n))
        for d, _, names in os.walk(event_log_dir)
        for n in names
        if n.startswith("events_")
    )
    for _, path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(JOB_GROUP) or "none"
                    acc = groups.setdefault(g, dict.fromkeys(("jobs", *_ACC.values()), 0))
                    acc["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = groups.get(stage_group.get(info["Stage ID"], "none"))
                    if acc is None:
                        continue
                    for a in info.get("Accumulables", []):
                        key = _ACC.get(a.get("Name"))
                        if key is not None:
                            acc[key] += float(a.get("Value") or 0)
    return groups


# -- the per-layer table ----------------------------------------------------

def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class SpanIndex:
    def __init__(self, spans: list[dict], groups: dict[str, dict[str, float]]):
        self.spans = spans
        self.groups = groups
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    @staticmethod
    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def subtree(self, s: dict, skip_bench: bool = True):
        yield s
        for c in self.children.get(s["id"], []):
            if not (skip_bench and c["name"].startswith(BENCH_PREFIX)):
                yield from self.subtree(c, skip_bench)

    def find(self, root: dict, name: str) -> list[dict]:
        return [x for x in self.subtree(root, skip_bench=False) if x["name"] == name]

    def spark(self, s: dict, key: str) -> float:
        """A Spark metric summed over the span and its non-bench
        descendants."""
        return sum(
            self.groups.get(f"span-{x['id']}", {}).get(key, 0) for x in self.subtree(s)
        )

    def bench_time(self, s: dict) -> float:
        return sum(
            self.dur(c) for c in self.children.get(s["id"], [])
            if c["name"].startswith(BENCH_PREFIX)
        )

    def self_time(self, s: dict) -> float:
        # children run sequentially on the driver thread: no overlap
        return self.dur(s) - sum(self.dur(c) for c in self.children.get(s["id"], []))


def crawl_layers(ix: SpanIndex, crawls: list[dict]) -> dict[str, float]:
    """Per-layer table of the measured crawls.  Times are medians per
    call; counts and bytes are per crawl (median over the crawls)."""
    epochs = [e for c in crawls for e in ix.find(c, "scheduler.run_epoch")]

    def durs(name: str) -> float:
        return _median(ix.dur(x) for c in crawls for x in ix.find(c, name))

    def per_crawl(name: str, value) -> float:
        return _median(sum(value(x) for x in ix.find(c, name)) for c in crawls)

    def attr(key: str):
        return lambda x: x.get(key, 0)

    maybe_seen = per_crawl("bench.urlseen_count", attr("maybe_seen"))
    dropped = per_crawl("bench.urlseen_count", attr("dropped"))
    commits = ("parse.docs_commit", "snapshot.frontier_commit")
    return {
        "scheduler.epoch_s": _median(ix.dur(e) - ix.bench_time(e) for e in epochs),
        "scheduler.self_s": _median(ix.self_time(e) for e in epochs),
        "scheduler.jobs_per_epoch": _median(ix.spark(e, "jobs") for e in epochs),
        "urlseen.bloom_build_s": durs("urlseen.build_bloom"),
        "urlseen.candidates": per_crawl("bench.urlseen_count", attr("candidates")),
        "urlseen.maybe_seen": maybe_seen,
        "urlseen.dropped": dropped,
        "urlseen.useful_ratio": dropped / maybe_seen if maybe_seen else 0.0,
        "rank.dequeue_s": durs("rank.dequeue_rank"),
        "rank.rows_in": per_crawl("rank.dequeue_rank", attr("rows_in")),
        "rank.rows_out": per_crawl("rank.dequeue_rank", attr("rows_out")),
        "rank.shuffle_bytes": per_crawl(
            "rank.dequeue_rank", lambda x: ix.spark(x, "shuffle_bytes")
        ),
        "parse.commit_s": durs("parse.docs_commit"),
        "parse.executor_run_s": per_crawl(
            "parse.docs_commit", lambda x: ix.spark(x, "run_ms") / 1000
        ),
        "parse.spill_bytes": per_crawl(
            "parse.docs_commit", lambda x: ix.spark(x, "spill_bytes")
        ),
        "parse.docs": per_crawl("parse.docs_commit", attr("docs")),
        "parse.failed": per_crawl("scheduler.run_epoch", attr("failed")),
        "parse.spans": per_crawl("parse.docs_commit", attr("spans")),
        "snapshot.frontier_commit_s": durs("snapshot.frontier_commit"),
        "snapshot.partitions_rewritten": per_crawl(
            "snapshot.frontier_commit", attr("partitions")
        ),
        "snapshot.files_written": sum(per_crawl(n, attr("files")) for n in commits),
        "snapshot.bytes_written": sum(per_crawl(n, attr("bytes")) for n in commits),
    }


def query_layers(ix: SpanIndex, passes: list[dict], names: list[str]) -> dict[str, float]:
    """Per query: median time, and Spark jobs / shuffle / spill per pass."""
    out: dict[str, float] = {}
    for q in names:
        runs = [x for p in passes for x in ix.find(p, f"queries.{q}")]
        out[f"queries.{q}_s"] = _median(ix.dur(x) for x in runs)
        out[f"queries.{q}.shuffle_bytes"] = _median(ix.spark(x, "shuffle_bytes") for x in runs)
        out[f"queries.{q}.spill_bytes"] = _median(ix.spark(x, "spill_bytes") for x in runs)
        out[f"queries.{q}.jobs"] = _median(ix.spark(x, "jobs") for x in runs)
    return out
