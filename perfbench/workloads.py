"""The benchmark's closed-loop workloads and their output checks.

One client: the next crawl (or query pass) starts only when the
previous one has finished.  Each workload returns the raw samples; the
checks run after the measured window and never inside it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import inputs

SETUPS = 3  # set-ups per run (frontier init, or input tables); setup_s takes the median

# -- crawl ------------------------------------------------------------------


@dataclass(frozen=True)
class CrawlSpec:
    players_per_host: tuple[int, ...]
    n_months: int
    page_weight: int
    budget_per_host: int


CRAWL_SPECS = {
    "full": CrawlSpec((6, 3, 2, 1), 12, page_weight=32, budget_per_host=48),
    "tiny": CrawlSpec((2, 1), 3, page_weight=32, budget_per_host=4),
}


# Spark-side span digest; span_digest() below is the same serialization
SPANS_DIGEST_SQL = (
    "md5(concat_ws('\\u001e', transform(spans, s -> concat_ws('\\u001f', "
    "s.kind, s.text, s.media_ref, cast(s.offset as string)))))"
)


def span_digest(spans: list[tuple]) -> str:
    return hashlib.md5(
        "\x1e".join("\x1f".join(map(str, s)) for s in spans).encode()
    ).hexdigest()


@dataclass
class Samples:
    """What one run measured, before it is turned into metrics."""

    n_items: int  # URLs per crawl, or queries per pass
    walls: list[float] = field(default_factory=list)
    setups: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    stored_bytes_per_doc: float = 0.0
    written_bytes_per_doc: float = 0.0
    roots: list[dict] = field(default_factory=list)  # one span per op


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    sizes = [os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names]
    return len(sizes), sum(sizes)


def crawl_mismatches(
    oracle, expected: dict[str, str], docs: list[tuple], seen: set[str]
) -> set[str]:
    """URLs whose crawl disagrees with the sequential oracle.

    ``docs`` are the committed (doc_id, epoch, crawl_rank, digest) rows
    of every epoch, ``seen`` the frontier's fetched URLs.  A URL fails
    if it is missing, fetched more than once, out of crawl order, in
    only one of the two URL-seen sets, or its spans differ.
    """
    bad: set[str] = set()
    counts: dict[str, int] = {}
    for d in docs:
        counts[d[0]] = counts.get(d[0], 0) + 1
    bad.update(u for u, n in counts.items() if n != 1)
    bad.update(u for u in expected if u not in counts)
    order = [d[0] for d in sorted(docs, key=lambda d: (d[1], d[2]))]
    want = oracle.crawl_order
    bad.update(a for a, b in zip(order, want) if a != b)
    bad.update(order[len(want):] + want[len(order):])
    bad.update(seen ^ oracle.url_seen)
    bad.update(d[0] for d in docs if expected.get(d[0]) != d[3])
    return bad


def run_crawl(ctx, spec: CrawlSpec, plant: bool) -> Samples:
    from fide_crawler_spark.fixtures import parse_page, render_page
    from fide_crawler_spark.operators.scheduler import CrawlJob
    from fide_crawler_spark.oracle.sequential import run_oracle

    spark, tracer = ctx.spark, ctx.tracer
    rows = inputs.crawl_frontier_rows(ctx.seed, list(spec.players_per_host), spec.n_months)
    s = Samples(n_items=len(rows))

    def init_job(name: str, rows: list[dict], budget: int):
        job = CrawlJob(
            spark, os.path.join(ctx.work, name),
            budget_per_host=budget, page_weight=spec.page_weight,
        )
        job.init(spark.createDataFrame(rows))
        return job

    # warm-up on a cold JVM: one epoch through every layer.  A third of
    # the tiny frontier is imported as already fetched, so this single
    # epoch also runs URL-seen (skipped while nothing was fetched).
    t0 = time.perf_counter()
    with tracer.span("bench.warmup"):
        tiny = CRAWL_SPECS["tiny"]
        warm = inputs.crawl_frontier_rows(ctx.seed + 1, list(tiny.players_per_host), tiny.n_months)
        for r in warm[::3]:
            r["status"] = "fetched"
        init_job("warm-up", warm, len(warm)).run()
    s.warmup_s = time.perf_counter() - t0

    ready, jobs = [], []

    def set_up() -> None:
        t0 = time.perf_counter()
        with tracer.span("frontier.init"):
            fresh = inputs.crawl_frontier_rows(ctx.seed, list(spec.players_per_host), spec.n_months)
            ready.append(init_job(f"crawl-{len(jobs) + len(ready)}", fresh, spec.budget_per_host))
        s.setups.append(time.perf_counter() - t0)

    for _ in range(SETUPS):
        set_up()
    window = time.perf_counter()
    while not jobs or time.perf_counter() - window < ctx.seconds:
        if not ready:
            set_up()
        job = ready.pop(0)
        t0 = time.perf_counter()
        with tracer.span("bench.crawl") as root:
            stats = job.run()
        s.walls.append(time.perf_counter() - t0)
        s.roots.append(root)
        jobs.append((job, stats))
    ctx.end_window()

    # -- checks, outside the measured window --
    oracle = run_oracle(rows, spec.budget_per_host)
    expected = {
        url: span_digest(parse_page(render_page(url, spec.page_weight)))
        for url in oracle.crawl_order
    }
    if plant:
        url = oracle.crawl_order[0]
        expected[url] = "planted-" + expected[url]
    written, stored = [], []
    for job, stats in jobs:
        docs = [
            tuple(r)
            for r in job.docs_tbl.read(spark)
            .selectExpr("doc_id", "epoch", "crawl_rank", SPANS_DIGEST_SQL)
            .collect()
        ]
        seen = {
            r[0]
            for r in job.frontier_tbl.read(spark).filter("status = 'fetched'").select("url").collect()
        }
        fetch_failures = sum(x.get("failed", 0) for x in stats)
        s.attempted += len(rows) + fetch_failures
        s.failed += len(crawl_mismatches(oracle, expected, docs, seen)) + fetch_failures
        n_docs = max(1, len(docs))
        written.append(tree_size(job.workdir)[1] / n_docs)
        m = job.docs_tbl.manifest()
        stored.append(
            sum(tree_size(os.path.join(job.docs_tbl.root, p))[1] for p in m["data_paths"]) / n_docs
        )
    s.written_bytes_per_doc = statistics.median(written)
    s.stored_bytes_per_doc = statistics.median(stored)
    return s


# -- analytics --------------------------------------------------------------

QUERY_LIST = [
    "flagship_last3_days",
    "q9_window_dedup_keepfirst",
    "q24_ngram_jaccard_top20",
    "q29_minhash_lsh_candidates",
    "q34_minhash_dedup_survivors",
    "q57_bm25_search",
    "q77_lm_perplexity",
]

# "full" has the row counts of the sf0.1 testdata tables the kernels are
# tuned on (TESTDATA.md): 5000 documents, 150k orders, 600k lineitems
ANALYTICS_SIZES = {
    "full": {"n_docs": 5000, "n_orders": 150_000, "n_lines": 600_000},
    "tiny": {"n_docs": 200, "n_orders": 500, "n_lines": 2_000},
}


def result_diff(con, want: str, path: str) -> int:
    """Rows in only one of the DuckDB table ``want`` and the query result
    stored as parquet under ``path``: an order-insensitive multiset
    comparison, columns matched by name.  A different column set counts
    as one differing row."""
    got = f"read_parquet('{path}/*.parquet')"
    cols = [d[0] for d in con.execute(f"SELECT * FROM {want} LIMIT 0").description]
    got_cols = [d[0] for d in con.execute(f"SELECT * FROM {got} LIMIT 0").description]
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in got_cols):
        return 1
    sel = ", ".join(f'"{c}"' for c in cols)
    a_b = f"SELECT {sel} FROM {want} EXCEPT ALL SELECT {sel} FROM {got}"
    b_a = f"SELECT {sel} FROM {got} EXCEPT ALL SELECT {sel} FROM {want}"
    return sum(con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0] for q in (a_b, b_a))


def _shuffle_written(spark) -> int:
    """Cumulative shuffle bytes written, from Spark's live status store
    (always on; no event log needed)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = sc.statusStore().executorList(True)
    return sum(int(execs.apply(i).totalShuffleWrite()) for i in range(execs.size()))


def _query_pass(spark, tracer, sf_dir: str, out_dir: str) -> float:
    """Run every query once and store its complete result as parquet
    under ``out_dir/<query>``; returns the pass time."""
    from fide_crawler_spark.queries import QUERIES

    t0 = time.perf_counter()
    for q in QUERY_LIST:
        with tracer.span(f"queries.{q}"):
            QUERIES[q](spark, sf_dir).write.parquet(os.path.join(out_dir, q))
    return time.perf_counter() - t0


def run_analytics(ctx, size: str, plant: bool) -> Samples:
    import duckdb

    from fide_crawler_spark.queries import ORACLE

    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.work, "tables")
    s = Samples(n_items=len(QUERY_LIST))
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        shutil.rmtree(sf_dir, ignore_errors=True)
        with tracer.span("bench.input"):
            counts = inputs.write_analytics_tables(ctx.seed, sf_dir, **ANALYTICS_SIZES[size])
        s.setups.append(time.perf_counter() - t0)

    # warm-up on a cold JVM: one pass over tiny tables from the next seed
    # runs every kernel, its codegen and the Python worker pool, at a
    # fraction of a full pass's cost
    t0 = time.perf_counter()
    with tracer.span("bench.warmup"):
        warm_dir = os.path.join(ctx.work, "warm-up")
        inputs.write_analytics_tables(ctx.seed + 1, warm_dir, **ANALYTICS_SIZES["tiny"])
        _query_pass(spark, tracer, warm_dir, os.path.join(warm_dir, "results"))
    s.warmup_s = time.perf_counter() - t0

    passes: list[str] = []
    shuffle0 = _shuffle_written(spark)
    window = time.perf_counter()
    while not passes or time.perf_counter() - window < ctx.seconds:
        out_dir = os.path.join(ctx.work, f"results-{len(passes)}")
        with tracer.span("bench.pass") as root:
            s.walls.append(_query_pass(spark, tracer, sf_dir, out_dir))
        s.roots.append(root)
        passes.append(out_dir)
    ctx.end_window()
    shuffle = _shuffle_written(spark) - shuffle0

    # -- checks: each stored result against its DuckDB oracle --
    con = duckdb.connect()
    try:
        for t in counts:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for q in QUERY_LIST:
            con.execute(f"CREATE TABLE want_{q} AS {ORACLE[q]}")
            if plant and q == QUERY_LIST[0]:
                con.execute(f"INSERT INTO want_{q} SELECT * FROM want_{q} LIMIT 1")
            for out_dir in passes:
                s.attempted += 1
                s.failed += result_diff(con, f"want_{q}", os.path.join(out_dir, q)) > 0
    finally:
        con.close()
    n_docs = counts["documents"]
    s.stored_bytes_per_doc = statistics.median(tree_size(d)[1] for d in passes) / n_docs
    s.written_bytes_per_doc = shuffle / len(passes) / n_docs
    return s
