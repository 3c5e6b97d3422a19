"""Per-host politeness budget with skew-proof two-phase top-k.

Reference analog: ``time.sleep(1)`` between requests
(``old_scripts/fide-games-scraper-public.py:160``) — i.e. a per-host
request-rate budget.  Distributed form: each crawl epoch may dequeue at
most ``budget`` URLs per host, chosen by priority order.

Skew: a single giant host (here *every* URL is ratings.fide.com) would
funnel the whole frontier through one window partition.  Fix is the
classic salted two-phase top-k:

  phase 1  row_number over (host, salt) — ``n_salts`` parallel partitions
           per host, each keeps its local top ``budget`` → at most
           ``budget × n_salts`` survivors per host, a tiny superset.
  phase 2  exact row_number over (host) on the survivors only.

Both phases order by the same total priority order, so the result is
byte-identical to the naive single-window form (asserted in tests) while
the heavy shuffle carries (host, salt) keys — cardinality × n_salts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fide_crawler_spark.operators.frontier import priority_order


def politeness_cap(
    frontier: DataFrame,
    budget_per_host: int,
    n_salts: int = 8,
    order: list[Column] | None = None,
) -> DataFrame:
    """Top-``budget_per_host`` rows per host by priority order."""
    order = order or priority_order()
    salted = frontier.withColumn(
        "_salt", F.pmod(F.xxhash64("url"), F.lit(n_salts))
    )
    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    survivors = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= budget_per_host)
        .drop("_rn1", "_salt")
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        survivors.withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= budget_per_host)
        .drop("_rn2")
    )


def politeness_cap_naive(
    frontier: DataFrame,
    budget_per_host: int,
    order: list[Column] | None = None,
) -> DataFrame:
    """Single-window reference implementation (skew-prone); kept for the
    equivalence test."""
    order = order or priority_order()
    w = Window.partitionBy("host").orderBy(*order)
    return (
        frontier.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= budget_per_host)
        .drop("_rn")
    )
