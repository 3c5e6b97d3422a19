"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the workload seed: the same seed
gives the same crawl seed list (fide_ids, host assignment) and the same
analytics tables.  The program under test only ever sees the frontier
rows and parquet tables built from these.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fide_crawler_spark.fixtures import seed_frontier_rows

CRAWL_START = "2021-01-01"


def crawl_frontier_rows(
    seed: int, players_per_host: list[int], n_months: int
) -> list[dict]:
    """Frontier rows for a seeded player list spread over hosts.

    Host ``i`` gets ``players_per_host[i]`` players, so host sizes are
    fixed by the workload while the seed picks the fide_ids, their seed
    order, and which player lands on which host.  Every player has
    ``n_months`` calc-table URLs (one per rating period).
    """
    rng = random.Random(seed)
    n_players = sum(players_per_host)
    fide_ids = [str(x) for x in rng.sample(range(1_000_000, 40_000_000), n_players)]
    slots = [h for h, n in enumerate(players_per_host) for _ in range(n)]
    rng.shuffle(slots)
    host_of = {fid: f"h{slots[i]}.ratings.fide.com" for i, fid in enumerate(fide_ids)}
    rows = seed_frontier_rows(fide_ids, CRAWL_START, n_months)
    for r in rows:
        r["host"] = host_of[r["fide_id"]]
    return rows


# the testdata corpus vocabulary: 30 uniform words plus a rare marker
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "fr", "es", "de", "zh"]


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Random-word documents (10-100 words) with ~3% near-duplicates:
    a copy of an earlier doc with one word replaced, so the dedup
    kernels (LSH candidates, Jaccard verify) have real matches."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.03:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = lo_d + rng.integers(0, int((hi_d - lo_d).astype(np.int64)) + 1, n)
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _orders_lineitem(
    rng: np.random.Generator, n_orders: int, n_lines: int
) -> tuple[pa.Table, pa.Table]:
    """The orders/lineitem columns the analytics queries read, with the
    testdata column types.  Prices carry two decimals so DECIMAL sums
    agree across engines."""
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines)),
            "l_partkey": pa.array(rng.integers(0, max(1, n_lines // 30), n_lines)),
            "l_suppkey": pa.array(rng.integers(0, max(1, n_lines // 600), n_lines)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines).astype(np.int32)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_lines), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        }
    )
    return orders, lineitem


def write_analytics_tables(
    seed: int, out_dir: str, n_docs: int, n_orders: int, n_lines: int
) -> dict[str, int]:
    """Write documents/orders/lineitem parquet under ``out_dir``;
    returns each table's row count."""
    rng = np.random.default_rng(seed)
    orders, lineitem = _orders_lineitem(rng, n_orders, n_lines)
    tables = {"documents": _documents(rng, n_docs), "orders": orders, "lineitem": lineitem}
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
