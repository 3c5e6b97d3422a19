"""Query catalog: every SURVEY.md §2 operator as a (Spark fn, oracle SQL) pair.

Each entry maps an operator family from the reference (cites in each
docstring) onto the driver-provided testdata tables (TESTDATA.md).  The
Spark side is DataFrame API (declarative → Catalyst optimizes); the
oracle side is ANSI SQL run by DuckDB over the same parquet.  Column
names and types are aligned on both sides because the driver's compare
hashes values after sorting columns by name.

Float discipline: money-style sums are computed in DECIMAL on both
sides (exact, order-independent — a double sum's low bits depend on
partition order), but every FINAL output column is DOUBLE, never
DECIMAL: an exact decimal casts to the same nearest double in Spark
and DuckDB, whereas Decimal objects surface with engine-specific
scale/representation and fail the driver's pandas value-hash.
Averages/ratios are floor-rounded — FLOOR(x*1e4+0.5)/1e4, not
ROUND(double,4), which disagrees between engines on ...4999 halves.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


# --------------------------------------------------------------------------
# A. flagship — crawl-analytics shape of SURVEY G1+F2 ("last-3 tournaments
#    summary", ui/streamlit_ui.py:152-208) on the orders/lineitem tables
# --------------------------------------------------------------------------
@query(
    "flagship_last3_days",
    """
    SELECT CAST(o_orderdate AS DATE) AS order_day,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY order_day DESC LIMIT 3
    """,
)
def flagship_last3_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 group-multi-agg + F2 top-k latest (ui/streamlit_ui.py:164-187):
    revenue summary of the 3 most recent order days.

    Sum in DECIMAL (exact, order-independent), then cast the FINAL
    output to DOUBLE: an exact decimal converts to the same nearest
    double in Spark and DuckDB, while Decimal objects hash differently
    from float64 in the driver's pandas-based compare.
    """
    li, o = load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    # pre-aggregate lineitem per order BEFORE the join (guide §2.3
    # "aggregate before you shuffle"): the join then probes one row
    # per order instead of every line, and COUNT(DISTINCT o_orderkey)
    # degenerates to COUNT(*) — orderkey is unique on both sides after
    # the pre-agg, so the planner's two-exchange distinct expansion
    # disappears.  Decimal partial sums are exact and associative, so
    # revenue is bit-identical.
    li_agg = li.groupBy("l_orderkey").agg(F.sum(rev).alias("__rev"))
    return (
        li_agg.join(o, li_agg.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderdate").cast("date").alias("order_day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("__rev").cast("double").alias("revenue"),
        )
        .orderBy(F.desc("order_day"))
        .limit(3)
    )


# --------------------------------------------------------------------------
# B/G. projections, filters, grouped aggregation
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc,
           FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(l_quantity) * 10000 + 0.5) / 10000 AS avg_qty,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G4/G5 grouped multi-agg (ui/streamlit_ui.py:164-167) in TPC-H
    Q1 shape; filter pushed to the parquet scan.

    DECIMAL internally (exact), DOUBLE out (hash-stable vs the oracle);
    avg = exact-decimal sum → double ÷ count, floor-rounded — the ROUND
    half-case discipline from textstats.quality_score.
    """
    li = load(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    avg_qty = (F.sum(dec("l_quantity")).cast("double")
               / F.count("l_quantity"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double").alias("sum_disc"),
            (F.floor(avg_qty * 10000 + F.lit(0.5)) / 10000).alias("avg_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q2_conditional_slices",
    """
    SELECT FLOOR(CAST(SUM(CASE WHEN o_orderstatus = 'F'
                        THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE)
                 / COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                 * 10000 + 0.5) / 10000 AS avg_f,
           FLOOR(CAST(SUM(CASE WHEN o_orderstatus = 'O'
                        THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE)
                 / COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END)
                 * 10000 + 0.5) / 10000 AS avg_o,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_urgent,
           CAST(SUM(CASE WHEN o_totalprice > 1000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_big,
           COUNT(*) AS n
    FROM orders
    """,
)
def q2_conditional_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 one-pass conditional aggregates (ui/streamlit_ui.py:268-276:
    six avg slices computed in ONE scan via avg(when(...)))."""
    o = load(spark, sf_dir, "orders")

    def cond_avg(status: str):
        # exact decimal sum → double, ÷ slice count, floor-round:
        # order-independent and identical in both engines (ROUND(double)
        # disagrees between Spark and DuckDB on ...4999 halves).
        s = F.sum(
            F.when(F.col("o_orderstatus") == status,
                   F.col("o_totalprice").cast("decimal(18,4)"))
        ).cast("double")
        n = F.count(F.when(F.col("o_orderstatus") == status, F.lit(1)))
        return F.floor(s / n * 10000 + F.lit(0.5)) / 10000

    return o.agg(
        cond_avg("F").alias("avg_f"),
        cond_avg("O").alias("avg_o"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)).alias("n_urgent"),
        F.sum(F.when(F.col("o_totalprice") > 1000, 1).otherwise(0)).alias("n_big"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q3_filter_predicates",
    """
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_day, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1997-12-31'
      AND o_totalprice > 500
    ORDER BY o_orderkey
    """,
)
def q3_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 equality + B3 conjunction + B4 IN-list + B6 BETWEEN
    (ui/streamlit_ui.py:217-229,270-276,311-319;
    data_fetching_processing.py:239) — all pushed to the scan."""
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderstatus") == "O")
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & F.col("o_orderdate").between("1995-01-01", "1997-12-31")
            & (F.col("o_totalprice") > 500)
        )
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_day"),
            "o_totalprice",
        )
        .orderBy("o_orderkey")
    )


@query(
    "q4_substring_filter",
    """
    SELECT p_partkey, p_name FROM part
    WHERE CONTAINS(LOWER(p_name), 'red') ORDER BY p_partkey
    """,
)
def q4_substring_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 case-insensitive substring filter
    (ui/streamlit_ui.py:322-324)."""
    p = load(spark, sf_dir, "part")
    return (
        p.filter(F.lower(F.col("p_name")).contains("red"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# C. joins
# --------------------------------------------------------------------------
@query(
    "q5_broadcast_join_revenue",
    """
    SELECT c_mktsegment,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q5_broadcast_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 FK equi-join (database_management.py:41).  The customer dim is
    broadcast (small side), the fact-fact join shuffles on orderkey."""
    c = F.broadcast(load(spark, sf_dir, "customer"))
    o, li = load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    # same pre-aggregation as the flagship (guide §2.3): revenue per
    # order first, so the joins probe order-grain rows and the
    # per-segment COUNT(DISTINCT orderkey) becomes a plain COUNT(*)
    # (orderkey unique after the pre-agg) — no distinct expansion.
    li_agg = li.groupBy("l_orderkey").agg(F.sum(rev).alias("__rev"))
    return (
        li_agg.join(o, li_agg.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("__rev").cast("double").alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q6_anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
)
def q6_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 URL-seen shape: left anti-join (cache-hit check,
    data_fetching_processing.py:219-234)."""
    c, o = load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q7_semi_join",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 45)
    ORDER BY s_suppkey
    """,
)
def q7_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 lookup-by-key as a left semi-join (ui/streamlit_ui.py:95-96)."""
    s, li = load(spark, sf_dir, "supplier"), load(spark, sf_dir, "lineitem")
    keys = li.filter(F.col("l_quantity") > 45).select(
        F.col("l_suppkey").alias("s_suppkey")
    )
    return (
        s.join(keys, "s_suppkey", "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q8_similarity_join",
    """
    WITH scored AS (
      SELECT n_name, r_name,
             FLOOR((1.0 - CAST(levenshtein(n_name, r_name) AS DOUBLE)
                   / GREATEST(LENGTH(n_name), LENGTH(r_name))) * 10000 + 0.5)
               / 10000 AS sim,
             ROW_NUMBER() OVER (
               PARTITION BY n_name
               ORDER BY 1.0 - CAST(levenshtein(n_name, r_name) AS DOUBLE)
                         / GREATEST(LENGTH(n_name), LENGTH(r_name)) DESC,
                        r_name
             ) AS rn
      FROM nation CROSS JOIN region
    )
    SELECT n_name, r_name AS best_region, sim FROM scored WHERE rn = 1
    ORDER BY n_name
    """,
)
def q8_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 non-equi similarity join: cross join + Levenshtein score +
    top-1 per key (the DGT best-match loop,
    old_scripts/fide-games-scraper-public.py:123-153)."""
    n, r = load(spark, sf_dir, "nation"), load(spark, sf_dir, "region")
    sim = (
        F.lit(1.0)
        - F.levenshtein("n_name", "r_name").cast("double")
        / F.greatest(F.length("n_name"), F.length("r_name"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("sim_raw"), F.asc("r_name"))
    return (
        n.crossJoin(F.broadcast(r))
        .withColumn("sim_raw", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "n_name",
            F.col("r_name").alias("best_region"),
            (F.floor(F.col("sim_raw") * 10000 + F.lit(0.5)) / 10000).alias("sim"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# W/F. windows, dedup, sort/limit
# --------------------------------------------------------------------------
@query(
    "q9_window_dedup_keepfirst",
    """
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             ROW_NUMBER() OVER (
               PARTITION BY l_partkey, l_suppkey
               ORDER BY l_orderkey, l_linenumber
             ) AS rn
      FROM lineitem
    ) WHERE rn = 1 ORDER BY l_orderkey, l_linenumber
    """,
)
def q9_window_dedup_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 keep-first dedup with exact ORDER BY id semantics
    (database_management.py:56-71: ROW_NUMBER ... ORDER BY id, DELETE
    rn>1)."""
    li = load(spark, sf_dir, "lineitem")
    # keep-first = MIN(struct(orderkey, linenumber)) per key: struct
    # comparison is lexicographic, matching the window's ORDER BY, and
    # only the ordering columns are output — so the row_number window
    # (full shuffle of every row + two sorts) becomes a hash aggregate
    # with map-side partials, shuffling one row per (part, supp) per
    # map partition (guide §2.3).  The keys are NOT NULL in this
    # schema, so MIN's null-last semantics can't diverge from the
    # window's null ordering.
    first = F.min(F.struct("l_orderkey", "l_linenumber")).alias("f")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(first)
        .select(
            F.col("f.l_orderkey").alias("l_orderkey"),
            F.col("f.l_linenumber").alias("l_linenumber"),
            "l_partkey",
            "l_suppkey",
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q10_topk_per_group",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3 ORDER BY c_mktsegment, o_totalprice DESC, o_orderkey
    """,
)
def q10_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 top-k after sort, per group (ui/streamlit_ui.py:184-187
    last-3-tournaments) — W3 priority-queue shape."""
    o, c = load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .orderBy("c_mktsegment", F.desc("o_totalprice"), "o_orderkey")
    )


@query(
    "q11_running_sum",
    """
    SELECT user_id, event_id,
           FLOOR(SUM(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) * 10000 + 0.5) / 10000 AS running_value
    FROM events WHERE user_id < 5
    ORDER BY user_id, event_id
    """,
)
def q11_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 running-sum frame (block-id assignment shape,
    data_fetching_processing.py:154-173)."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.filter(F.col("user_id") < 5)
        .select(
            "user_id",
            "event_id",
            (F.floor(F.sum("value").over(w) * 10000 + F.lit(0.5)) / 10000)
            .alias("running_value"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "q12_minmax_by",
    """
    SELECT user_id,
           MIN_BY(event_id, ts) AS first_event,
           MAX_BY(event_id, ts) AS last_event,
           CAST(MIN(ts) AS DATE) AS first_day,
           CAST(MAX(ts) AS DATE) AS last_day,
           COUNT(*) AS n
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q12_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 first/last after sort as native min_by/max_by
    (ui/streamlit_ui.py:136-138 ELO delta) + G3 min/max."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.min_by("event_id", "ts").alias("first_event"),
            F.max_by("event_id", "ts").alias("last_event"),
            F.min("ts").cast("date").alias("first_day"),
            F.max("ts").cast("date").alias("last_day"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# G. distribution / distinct aggregates
# --------------------------------------------------------------------------
@query(
    "q13_value_counts_normalized",
    """
    SELECT event_type,
           COUNT(*) AS n,
           FLOOR(100.0 * COUNT(*) / SUM(COUNT(*)) OVER () * 10000 + 0.5) / 10000 AS pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q13_value_counts_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 normalized value_counts → win/draw/loss %
    (old_scripts/fide-player-stats-en-US.py:516-519).  The grand total
    is a broadcast cross-join of a one-row aggregate, not a
    ``Window.partitionBy()`` — even over a 5-row post-aggregate an
    unpartitioned WindowExec is the plan shape the engine bans."""
    e = load(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "pct",
            F.floor(F.lit(100.0) * F.col("n") / F.col("__total") * 10000
                    + F.lit(0.5)) / 10000,
        )
        .drop("__total")
        .orderBy("event_type")
    )


@query(
    "q14_sorted_distinct_join",
    """
    SELECT n_nationkey, n_name,
           STRING_AGG(DISTINCT c_mktsegment, '/ ' ORDER BY c_mktsegment) AS segments
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_nationkey, n_name ORDER BY n_nationkey
    """,
)
def q14_sorted_distinct_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7+H15 sorted distinct set joined to a string
    (ui/streamlit_ui.py:325-327: '/ '.join(sorted(unique)))."""
    n, c = load(spark, sf_dir, "nation"), load(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), "/ ").alias(
                "segments"
            )
        )
        .orderBy("n_nationkey")
    )


@query(
    "q15_rollup",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q15_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets demo (SURVEY §2.D note): rollup over the Q1 keys."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double").alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# S. set ops
# --------------------------------------------------------------------------
@query(
    "q16_union_dedup",
    """
    SELECT o_custkey, COUNT(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_totalprice > 900
      UNION
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ) GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def q16_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 incremental union + bag→set dedup
    (data_fetching_processing.py:219-239, :255)."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 900).select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        a.unionByName(b)
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# H. scalar function surface
# --------------------------------------------------------------------------
@query(
    "q17_scalar_functions",
    """
    SELECT event_id,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k_value,
           regexp_replace(event_type, '[^a-z]', '', 'g') AS et_alpha,
           LOWER(TRIM(event_type)) AS et_norm,
           CAST(date_trunc('month', ts) AS DATE) AS month,
           CAST(ts AS DATE) + INTERVAL 1 DAY AS next_day,
           strftime(ts, '%Y-%m-%d') AS day_str,
           CONCAT(event_type, '/', CAST(user_id AS VARCHAR)) AS tag,
           FLOOR(value * 10 + 0.5) / 10 AS value_r,
           CAST(FLOOR(value) AS BIGINT) AS value_floor,
           SUBSTRING(CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR), 1, 2) AS first2
    FROM events WHERE event_id < 200 ORDER BY event_id
    """,
)
def q17_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1-H14/H21 scalar surface: regex extract/strip (H1-H3), casts
    (H4-H5), date trunc/format/arithmetic (H6-H10), lower/trim (H11),
    concat (H12), rounding (H14), leading-substring int (H21)."""
    e = load(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_id") < 200)
        .select(
            "event_id",
            F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k_value"),
            F.regexp_replace("event_type", "[^a-z]", "").alias("et_alpha"),
            F.lower(F.trim(F.col("event_type"))).alias("et_norm"),
            F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
            (F.col("ts").cast("date") + F.expr("interval 1 day")).cast("timestamp").alias("next_day"),
            F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
            F.concat_ws("/", "event_type", F.col("user_id").cast("string")).alias("tag"),
            (F.floor(F.col("value") * 10 + F.lit(0.5)) / 10).alias("value_r"),
            F.floor("value").cast("bigint").alias("value_floor"),
            F.substring(F.floor("value").cast("bigint").cast("string"), 1, 2).alias("first2"),
        )
        .orderBy("event_id")
    )


@query(
    "q18_month_sequence",
    """
    WITH bounds AS (
      SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
      FROM orders
    ),
    months AS (
      SELECT CAST(UNNEST(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 MONTH)) AS DATE) AS month
      FROM bounds
    )
    SELECT m.month, COUNT(o.o_orderkey) AS n_orders
    FROM months m LEFT JOIN orders o
      ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = m.month
    GROUP BY m.month ORDER BY m.month
    """,
)
def q18_month_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H9 month-walk frontier generation: sequence + explode over the
    [min,max] month range (data_fetching_processing.py:125-131), then a
    coverage join — the relational form of the gap analysis (:219-234)."""
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.trunc(F.min("o_orderdate").cast("date"), "month").alias("lo"),
        F.trunc(F.max("o_orderdate").cast("date"), "month").alias("hi"),
    )
    months = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 month"))).alias("month")
    )
    per_month = o.select(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
        "o_orderkey",
    )
    return (
        months.join(per_month, "month", "left")
        .groupBy("month")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Training-data pipeline: text analysis (SURVEY "beyond the reference")
# --------------------------------------------------------------------------
from fide_crawler_spark.operators import dedup as D  # noqa: E402
from fide_crawler_spark.operators import multimodal as MM  # noqa: E402
from fide_crawler_spark.operators import similarity as SIM  # noqa: E402
from fide_crawler_spark.operators import textstats as TS  # noqa: E402

_STOP_SQL = "['" + "','".join(TS.STOPWORDS) + "']"


@query(
    "q19_token_stats",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           LENGTH(text) AS n_chars_calc,
           FLOOR(CAST(LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) AS DOUBLE)
                 / GREATEST(len(string_split(text, ' ')), 1) * 10000 + 0.5)
             / 10000 AS avg_token_len
    FROM documents ORDER BY doc_id
    """,
)
def q19_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over `documents` (whitespace tokenizer)."""
    return TS.token_stats(load(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "q20_quality_score",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> list_contains({_STOP_SQL}, x))) AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dist
      FROM documents
    )
    , r AS (
      SELECT doc_id,
             n_stop / GREATEST(n, 1.0) AS stop_ratio,
             1.0 - n_dist / GREATEST(n, 1.0) AS rep_ratio,
             LEAST(n / 64.0, 1.0) AS len_score
      FROM t
    )
    SELECT doc_id,
           FLOOR(stop_ratio * 10000 + 0.5) / 10000 AS stopword_ratio,
           FLOOR(rep_ratio * 10000 + 0.5) / 10000 AS repetition_ratio,
           FLOOR((0.4 * len_score + 0.3 * LEAST(stop_ratio * 4, 1.0)
                  + 0.3 * (1.0 - rep_ratio)) * 10000 + 0.5) / 10000 AS quality_score
    FROM r ORDER BY doc_id
    """,
)
def q20_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length band + stopword ratio + repetition."""
    return TS.quality_score(load(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "q21_langid",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
             / GREATEST(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) AS en
      FROM documents
    )
    SELECT doc_id, FLOOR(en * 10000 + 0.5) / 10000 AS en_score,
           CASE WHEN en >= 0.08 THEN 'en' ELSE 'unk' END AS predicted_lang
    FROM t ORDER BY doc_id
    """,
)
def q21_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-token ratio)."""
    return TS.langid(load(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "q22_fingerprint",
    """
    SELECT doc_id,
           CAST(MOD(SUM(MOD(CAST(pos AS BIGINT) * (31 * LENGTH(tok) + ASCII(tok)),
                            2147483647)),
                    2147483647) AS BIGINT) AS fingerprint
    FROM (
      SELECT doc_id,
             UNNEST(string_split(text, ' ')) AS tok,
             UNNEST(generate_series(1, len(string_split(text, ' ')))) AS pos
      FROM documents
    )
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q22_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted rolling-hash document fingerprint."""
    return TS.fingerprint(load(spark, sf_dir, "documents")).orderBy("doc_id")


# --------------------------------------------------------------------------
# Training-data pipeline: dedup + similarity
# --------------------------------------------------------------------------
@query(
    "q23_dedup_exact",
    """
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text ORDER BY doc_id
    """,
)
def q23_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor per distinct content (hash groupBy)."""
    return D.exact_dedup(load(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "q24_ngram_jaccard_top20",
    """
    WITH sh AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(
               generate_series(1, GREATEST(len(string_split(text,' ')) - 2, 1)),
               i -> array_to_string(list_slice(string_split(text,' '), i, i + 2), ' ')
             )) AS grams
      FROM documents
    ),
    flat AS (SELECT doc, len(grams) AS n_sh, UNNEST(grams) AS shingle FROM sh),
    pairs AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, a.n_sh AS na, b.n_sh AS nb,
             COUNT(*) AS inter
      FROM flat a JOIN flat b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           FLOOR(CAST(inter AS DOUBLE) / (na + nb - inter) * 10000 + 0.5) / 10000 AS jaccard
    FROM pairs
    ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20
    """,
)
def q24_ngram_jaccard_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: inverted-index self-join, exact Jaccard,
    top-20 most similar pairs (total-ordered tie-break)."""
    pairs = D.ngram_jaccard_pairs(load(spark, sf_dir, "documents"), n=3)
    return pairs.orderBy(F.desc("jaccard"), "doc_a", "doc_b").limit(20)


@query(
    "q25_cosine_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             FLOOR(
               list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (SQRT(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * SQRT((SELECT list_sum(list_transform(qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) FROM q)))
               * 10000 + 0.5) / 10000 AS cosine
      FROM embeddings
    )
    SELECT vec_id, cosine FROM scored
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def q25_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the vec_id=0 embedding — JVM
    zip_with/aggregate dot product, TakeOrderedAndProject top-k."""
    emb = load(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return SIM.cosine_topk(emb, qv, k=10)


@query(
    "q26_multimodal_meta",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(64 + MOD(n_chars, 128) AS INT) AS width,
           CAST(64 + MOD(n_chars * 3, 128) AS INT) AS height,
           source AS format
    FROM documents ORDER BY doc_id
    """,
)
def q26_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload + typed metadata struct
    (flattened for the oracle)."""
    m = MM.media_table(load(spark, sf_dir, "documents"))
    return m.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.format").alias("format"),
    ).orderBy("doc_id")


@query(
    "q27_embedding_norms",
    """
    SELECT label,
           COUNT(*) AS n,
           FLOOR(AVG(SQRT(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 10000 + 0.5)
             / 10000 AS avg_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
)
def q27_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions: per-label mean L2 norm."""
    emb = load(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        emb.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), (F.floor(F.avg("nrm") * 10000 + F.lit(0.5)) / 10000).alias("avg_norm"))
        .orderBy("label")
    )


@query(
    "q28_tumbling_window",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           FLOOR(SUM(value) * 10000 + 0.5) / 10000 AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def q28_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (batch form of the Structured
    Streaming windowed agg in streaming/pipeline.py)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.floor(F.sum("value") * 10000 + F.lit(0.5)) / 10000).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# Hash-family dedup with full value oracles: the catalog entries key on
# md5h (dedup.md5h — 60-bit md5 prefix, bit-identical in DuckDB as
# ('0x' || substr(md5(x),1,15))::BIGINT), so DuckDB recomputes the
# entire MinHash/SimHash algebra independently.  The production
# operators default to xxhash64 (JVM-native); portable=True swaps only
# the feature hash, not the algorithm — the xxhash64 path keeps its
# planted-duplicate pytest gates (tests/test_dedup.py).
# --------------------------------------------------------------------------
_MD5H = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
_M31 = D.MERSENNE

# word 3-gram shingles, deduped — mirrors dedup.shingle_docs(n=3)
_GRAMS3_SQL = f"""
    toks AS (SELECT doc_id AS doc, string_split(text, ' ') AS l FROM documents),
    grams AS (
      SELECT doc,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(l) - 2, 1)),
               i -> array_to_string(list_slice(l, i, i + 2), ' ')))) AS gram
      FROM toks
    ),
    hashed AS (
      SELECT doc, {_MD5H.format(x='gram')} % {_M31} AS h FROM grams
    )
"""


def _minhash_sql_parts(k: int = 16, bands: int = 4) -> tuple[str, str]:
    """(sig CTE, bands CTE) reproducing dedup.minhash_signatures +
    the banded keys with the same (a_i, b_i) literals."""
    params = D._minhash_params(k)
    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {_M31}) AS mh_{i}"
        for i, (a, b) in enumerate(params)
    )
    sig = f"sig AS (SELECT doc,\n             {mins}\n      FROM hashed GROUP BY doc)"
    rpb = k // bands
    selects = []
    for b in range(bands):
        cols = ", ".join(f"mh_{b * rpb + r}::VARCHAR" for r in range(rpb))
        selects.append(
            f"SELECT doc, {b} AS band_id, "
            f"{_MD5H.format(x=f_concat_ws(b, cols))} AS band_hash FROM sig"
        )
    bands_cte = "bands AS (" + "\n      UNION ALL ".join(selects) + ")"
    return sig, bands_cte


def f_concat_ws(b: int, cols: str) -> str:
    return f"concat_ws('|', '{b}', {cols})"


_SIG_CTE, _BANDS_CTE = _minhash_sql_parts(16, 4)

_CAND_CTE = """
    cand AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_bands_shared
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                   AND a.doc < b.doc
      GROUP BY 1, 2
    )
"""


@query(
    "q29_minhash_lsh_candidates",
    f"""
    WITH {_GRAMS3_SQL}, {_SIG_CTE}, {_BANDS_CTE}, {_CAND_CTE}
    SELECT doc_a, doc_b, n_bands_shared FROM cand ORDER BY doc_a, doc_b
    """,
)
def q29_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banded candidate pairs, md5-keyed (portable=True) so
    the oracle recomputes signatures and band collisions exactly."""
    return D.minhash_lsh_candidates(
        load(spark, sf_dir, "documents"), k=16, bands=4, portable=True
    ).orderBy("doc_a", "doc_b")


@query(
    "q30_simhash_buckets",
    f"""
    WITH toks AS (SELECT doc_id AS doc, string_split(text, ' ') AS l
                  FROM documents),
    words AS (SELECT doc, unnest(list_distinct(l)) AS feat FROM toks),
    hashed AS (SELECT doc, {_MD5H.format(x='feat')} AS h FROM words),
    votes AS (
      SELECT doc, i,
             SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, (SELECT unnest(generate_series(0, 15)) AS i)
      GROUP BY doc, i
    ),
    fp AS (
      SELECT doc,
             CAST(SUM(CASE WHEN v > 0 THEN 1 << i ELSE 0 END) AS BIGINT)
               AS simhash
      FROM votes GROUP BY doc
    )
    SELECT simhash, COUNT(*) AS n_docs,
           string_agg(doc::VARCHAR, ',' ORDER BY doc) AS docs
    FROM fp GROUP BY simhash HAVING COUNT(*) > 1 ORDER BY simhash
    """,
)
def q30_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash equal-fingerprint near-dup buckets, md5-keyed bit votes
    (portable=True) — the oracle rebuilds every fingerprint.  ``docs``
    is joined to a scalar string: the driver's canonicalizer (pandas
    sort_values) cannot factorize array columns."""
    return (
        D.simhash_buckets(load(spark, sf_dir, "documents"), portable=True)
        .select(
            "simhash",
            "n_docs",
            F.array_join("docs", ",").alias("docs"),
        )
        .orderBy("simhash")
    )


@query(
    "q31_embedding_neardup",
    """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           FLOOR(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[])
                 * 10000 + 0.5) / 10000 AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                 b.embedding::DOUBLE[]) >= 0.4
    ORDER BY vec_a, vec_b
    """,
)
def q31_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs embedding-cosine near-dup — distributed via the
    chunk grid (dedup.embedding_neardup_exact), value-checked against a
    brute-force DuckDB join.  The LSH-bucketed production variant
    (embedding_neardup_pairs, n_planes=8) is recall-gated in pytest
    (tests/test_dedup.py) — an approximate candidate generator can't
    carry an exact SQL oracle."""
    return D.embedding_neardup_exact(
        load(spark, sf_dir, "embeddings"), threshold=0.4, max_chunk_rows=128
    ).orderBy("vec_a", "vec_b")


def _ivf_oracle_sql(
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 10,
    lloyd_iters: int = 2,
    refine_threshold_hex: str = "40000000",  # sample_threshold_hex(0.25)
    query_id: int = 0,
) -> str:
    """Unrolled-SQL replay of the ENTIRE IVF pipeline — the md5h-bridge
    technique applied to similarity.ann_topk_ivf.  Every stage of the
    Spark path is deterministic and engine-portable by construction
    (md5 seed order, md5-threshold Lloyd sample, argmax with
    lowest-cell tie-break, 1e-4 floor-rounded cosines), so DuckDB can
    recompute it end-to-end: seed centroids → ``lloyd_iters`` unrolled
    spherical-k-means rounds on the hash-sample → full-corpus argmax
    assignment → probe the n_probe nearest cells → exact cosine top-k.
    Straight-line CTE chain, one block per Lloyd round."""
    unit = (
        "list_transform({m}, x -> x / GREATEST("
        "sqrt(list_inner_product({m}, {m})), 1e-12))"
    )
    assign = """
{name} AS (
  SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY list_inner_product(s.u, c.c) DESC, c.cell) AS rn
    FROM {src} s CROSS JOIN {cents} c) WHERE rn = 1
)"""
    rounds = []
    prev = "c0"
    for r in range(1, max(0, lloyd_iters) + 1):
        rounds.append(assign.format(name=f"a{r}", src="samp", cents=prev))
        rounds.append(f"""
m{r} AS (
  SELECT cell, dim, AVG(x) AS mu FROM (
    SELECT a.cell, unnest(s.u) AS x, generate_subscripts(s.u, 1) AS dim
    FROM a{r} a JOIN samp s USING (vec_id))
  GROUP BY cell, dim
),
g{r} AS (SELECT cell, list(mu ORDER BY dim) AS m FROM m{r} GROUP BY cell),
c{r} AS (
  SELECT p.cell,
         CASE WHEN g.m IS NULL THEN p.c
              ELSE {unit.format(m="g.m")} END AS c
  FROM {prev} p LEFT JOIN g{r} g USING (cell)
)""")
        prev = f"c{r}"
    round_sql = ",".join(rounds)
    return f"""
WITH emb_d AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
emb_u AS (
  SELECT vec_id, v, {unit.format(m="v")} AS u FROM emb_d
),
c0 AS (
  SELECT (row_number() OVER (
            ORDER BY md5(CAST(vec_id AS VARCHAR) || 'ivf-seed'), vec_id)
         ) - 1 AS cell, u AS c
  FROM emb_u
  ORDER BY md5(CAST(vec_id AS VARCHAR) || 'ivf-seed'), vec_id
  LIMIT {n_cells}
),
samp AS (
  SELECT vec_id, u FROM emb_u
  WHERE substr(md5(CAST(vec_id AS VARCHAR) || 'lloyd'), 1, 8)
        < '{refine_threshold_hex}'
),{round_sql},{assign.format(name="fa", src="emb_u", cents=prev)},
qv AS (SELECT v AS q FROM emb_d WHERE vec_id = {query_id}),
probe AS (
  SELECT c.cell FROM {prev} c, qv
  ORDER BY list_inner_product(c.c, qv.q) DESC, c.cell LIMIT {n_probe}
)
SELECT e.vec_id,
       FLOOR(list_cosine_similarity(e.v, qv.q) * 10000 + 0.5) / 10000
         AS cosine
FROM emb_d e JOIN fa USING (vec_id), qv
WHERE fa.cell IN (SELECT cell FROM probe)
ORDER BY cosine DESC, e.vec_id LIMIT {k}
"""


@query("q32_ann_ivf_topk", _ivf_oracle_sql())
def q32_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbours for vec_id=0.

    Full value oracle (no_oracle in rounds 2-4): every stage of
    ann_topk_ivf is engine-portable — md5-ordered seed selection,
    md5-threshold Lloyd sample (sampling.hash_sample), argmax
    assignment with lowest-cell tie-break, floor-rounded cosines — so
    _ivf_oracle_sql unrolls the whole pipeline (seeds, 2 Lloyd rounds,
    final assignment, probe, top-k) as one DuckDB CTE chain."""
    emb = load(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return SIM.ann_topk_ivf(emb, qv, k=10, n_cells=16, n_probe=4)


@query(
    "q33_media_features",
    """
    SELECT d.doc_id,
           CAST(64 + d.n_chars % 128 AS INT) AS width,
           CAST(64 + (d.n_chars * 3) % 128 AS INT) AS height,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           CAST(s.checksum AS BIGINT) AS checksum
    FROM documents d JOIN (
      SELECT doc_id, SUM(ascii(c)) AS checksum
      FROM (SELECT doc_id, UNNEST(string_split(text, '')) AS c FROM documents)
      GROUP BY doc_id
    ) s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q33_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract plumbing over mapInPandas (stubbed
    kernel, real batching).  The scalar outputs (dims, byte length,
    byte-sum checksum) ARE oracle-able: the synthetic documents are
    ASCII, so the utf-8 byte sum equals the per-char codepoint sum."""
    m = MM.media_table(load(spark, sf_dir, "documents"))
    return MM.decode_media(m).drop("features").orderBy("doc_id")


@query(
    "q34_minhash_dedup_survivors",
    f"""
    WITH {_GRAMS3_SQL}, {_SIG_CTE}, {_BANDS_CTE}, {_CAND_CTE},
    sizes AS (SELECT doc, COUNT(*) AS n FROM grams GROUP BY doc),
    inter AS (
      SELECT ga.doc AS doc_a, gb.doc AS doc_b, COUNT(*) AS i
      FROM grams ga JOIN grams gb ON ga.gram = gb.gram AND ga.doc < gb.doc
      JOIN cand c ON c.doc_a = ga.doc AND c.doc_b = gb.doc
      GROUP BY 1, 2
    ),
    dominated AS (
      SELECT DISTINCT i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc = i.doc_a
      JOIN sizes sb ON sb.doc = i.doc_b
      WHERE i.i::DOUBLE / (sa.n + sb.n - i.i) >= 0.8
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_b FROM dominated)
    ORDER BY doc_id
    """,
)
def q34_minhash_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH dedup (md5-keyed, portable=True): banded
    candidates → exact-Jaccard verify → survivors.  The oracle replays
    the whole chain — signatures, band collisions, shingle-set Jaccard,
    anti-join — in SQL."""
    return (
        D.minhash_dedup(
            load(spark, sf_dir, "documents"), threshold=0.8, portable=True
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


@query("q35_crawl_to_analytics")
def q35_crawl_to_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl pipeline as a query (rows-only; the pytest
    sequential oracle is its correctness gate): seed frontier → epoch
    scheduler (politeness, bloom, snapshots) → interleaved span docs →
    relational game_history view → last-3-tournaments analytics."""
    import tempfile

    from fide_crawler_spark.fixtures import seed_frontier_rows
    from fide_crawler_spark.operators.games import last3_tournaments
    from fide_crawler_spark.operators.parse import game_history_view
    from fide_crawler_spark.operators.scheduler import CrawlJob

    rows = seed_frontier_rows(["1503014", "2020009"], "2023-01-01", 4)
    wd = tempfile.mkdtemp(prefix="q35_crawl_")
    job = CrawlJob(spark, wd, budget_per_host=4)
    job.init(spark.createDataFrame(rows))
    job.run()
    docs = job.read_documents().select("doc_id", "spans")
    gh = game_history_view(docs).withColumn("id", F.col("offset").cast("long"))
    return last3_tournaments(gh).orderBy("fide_id", "tournament_name", "date")


@query(
    "q36_pivot",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_o,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_f
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q36_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation).  The aggregate itself is a
    DECIMAL sum (exact, partition-order-independent — summing the raw
    double and casting after would be order-dependent at scale); the
    final outputs are DOUBLE for hash-stable oracle comparison."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")))
        .select(
            "l_returnflag",
            F.col("O").cast("double").alias("qty_o"),
            F.col("F").cast("double").alias("qty_f"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q37_except_intersect",
    """
    SELECT 'only_big' AS side, COUNT(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_totalprice > 800
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'both' AS side, COUNT(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_totalprice > 800
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    ORDER BY side
    """,
)
def q37_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations beyond the reference's unions: EXCEPT/INTERSECT."""
    o = load(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 800).select("o_custkey")
    ff = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    # SQL EXCEPT/INTERSECT are set semantics — subtract/intersect on
    # the distinct key sets mirror them exactly
    only_big = big.distinct().subtract(ff.distinct())
    both = big.distinct().intersect(ff.distinct())
    a = only_big.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("only_big").alias("side"), "n"
    )
    b = both.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("side"), "n"
    )
    return a.unionByName(b).orderBy("side")


@query(
    "q38_approx_percentiles",
    """
    SELECT event_type,
           FLOOR(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS p50,
           FLOOR(quantile_cont(value, 0.95) * 10000 + 0.5) / 10000 AS p95,
           FLOOR(MIN(value) * 10000 + 0.5) / 10000 AS vmin,
           FLOOR(MAX(value) * 10000 + 0.5) / 10000 AS vmax
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q38_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (percentile) — the approximate
    variant (percentile_approx/t-digest) is the 100TB path; exact is
    used here so the DuckDB oracle can match bit-for-bit."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            (F.floor(F.expr("percentile(value, 0.5)") * 10000 + F.lit(0.5)) / 10000).alias("p50"),
            (F.floor(F.expr("percentile(value, 0.95)") * 10000 + F.lit(0.5)) / 10000).alias("p95"),
            (F.floor(F.min("value") * 10000 + F.lit(0.5)) / 10000).alias("vmin"),
            (F.floor(F.max("value") * 10000 + F.lit(0.5)) / 10000).alias("vmax"),
        )
        .orderBy("event_type")
    )


@query(
    "q39_cube",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q39_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "q40_gap_analysis",
    """
    WITH bounds AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS db_min, MAX(CAST(ts AS DATE)) AS db_max
      FROM events WHERE user_id < 10 GROUP BY user_id
    ),
    req AS (
      SELECT user_id, DATE '2023-11-01' AS start_date, DATE '2024-03-01' AS end_date
      FROM bounds
    ),
    months AS (
      SELECT r.user_id,
             CAST(UNNEST(
               CASE WHEN b.db_min IS NULL THEN
                 CASE WHEN date_trunc('month', r.start_date) <= r.end_date
                      THEN generate_series(CAST(date_trunc('month', r.start_date) AS TIMESTAMP),
                                           CAST(r.end_date AS TIMESTAMP), INTERVAL 1 MONTH)
                      ELSE [] END
               ELSE
                 list_concat(
                   CASE WHEN date_trunc('month', r.start_date) <= b.db_min - 1
                        THEN generate_series(CAST(date_trunc('month', r.start_date) AS TIMESTAMP),
                                             CAST(b.db_min - 1 AS TIMESTAMP), INTERVAL 1 MONTH)
                        ELSE [] END,
                   CASE WHEN date_trunc('month', b.db_max + 1) <= r.end_date
                        THEN generate_series(CAST(date_trunc('month', b.db_max + 1) AS TIMESTAMP),
                                             CAST(r.end_date AS TIMESTAMP), INTERVAL 1 MONTH)
                        ELSE [] END)
               END) AS DATE) AS period
      FROM req r LEFT JOIN bounds b ON r.user_id = b.user_id
    )
    SELECT DISTINCT CAST(user_id AS VARCHAR) AS fide_id, period
    FROM months ORDER BY fide_id, period
    """,
)
def q40_gap_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cache-aware recrawl gap analysis (SURVEY §3.2,
    data_fetching_processing.py:207-245) mapped onto events: per-user
    cached [min,max] day range vs a requested window → months still to
    crawl."""
    from fide_crawler_spark.operators.recrawl import gap_analysis

    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    bounds = e.groupBy(F.col("user_id").cast("string").alias("fide_id")).agg(
        F.min(F.col("ts").cast("date")).alias("db_min"),
        F.max(F.col("ts").cast("date")).alias("db_max"),
    )
    requests = bounds.select(
        "fide_id",
        F.to_date(F.lit("2023-11-01")).alias("start_date"),
        F.to_date(F.lit("2024-03-01")).alias("end_date"),
    )
    return gap_analysis(requests, bounds)


@query(
    "q41_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id < 8
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, value,
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 10000 + 0.5) / 10000 AS session_value
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q41_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap flags + running-sum session ids (the
    batch form of session windows; same W4 running-sum machinery as the
    crawl's block-id assignment)."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet stores TIMESTAMP_NTZ, which casts to long only via
    # timestamp (identity under the pinned UTC session zone)
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        e.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # floor-round, not ROUND(double): see quality_score's note
            (F.floor(F.sum("value") * 10000 + F.lit(0.5)) / 10000)
            .alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "q42_distinct_counts",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q42_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregates (the oracle-checkable form;
    approx_count_distinct/HLL is the drop-in 100TB variant)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@query(
    "q43_json_props",
    """
    SELECT event_type,
           FLOOR(AVG(CAST(json_extract(props, '$.k') AS INT)) * 10000 + 0.5) / 10000 AS avg_k,
           MAX(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q43_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column access: JSON props parsed with
    get_json_object (typed via from_json at scale — schema'd parse once,
    not per-access)."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            (F.floor(F.avg(k) * 10000 + F.lit(0.5)) / 10000).alias("avg_k"),
            F.max(k).alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@query(
    "q44_sql_api",
    """
    SELECT n_name,
           COUNT(DISTINCT c_custkey) AS n_customers,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
    FROM nation
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    WHERE o_orderstatus <> 'P'
    GROUP BY n_name
    HAVING COUNT(*) > 5
    ORDER BY n_name
    """,
)
def q44_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface: temp views + spark.sql running the SAME ANSI
    text the DuckDB oracle runs.  On its own this only proves the two
    engines agree on one SQL string — the operator evidence is
    :func:`q44_dataframe_twin`, the same logical plan built through the
    DataFrame API and asserted row-equal to this result in
    tests/test_queries_oracle.py."""
    for t in ("nation", "customer", "orders"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(ORACLE["q44_sql_api"])


def q44_dataframe_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-API twin of q44 (not registered — it exists to prove
    the DataFrame surface plans the same query the SQL surface does):
    broadcast dim join → two-fact join → filter → grouped aggregate
    with a HAVING-style post-filter."""
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .filter(F.col("o_orderstatus") != "P")
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double").alias("total_spend"),
            F.count(F.lit(1)).alias("__n"),
        )
        .filter(F.col("__n") > 5)
        .drop("__n")
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# Player-profile pipeline (SURVEY A2/J-2): the reference's second data
# product, run end-to-end (URL build → fused fetch+parse → record) with
# a full value oracle — every synth_profile field is modular arithmetic
# of the id, so DuckDB recomputes the expected record independently of
# the render→parse pipeline under test.
# --------------------------------------------------------------------------
from fide_crawler_spark import fixtures as FX  # noqa: E402
from fide_crawler_spark.operators import profile as P  # noqa: E402


def _sql_list(items: list[str]) -> str:
    return "[" + ", ".join(f"'{x}'" for x in items) + "]"


_PROFILE_FIELDS_SQL = f"""
       list_extract({_sql_list(FX.FIRST)}, fid % 20 + 1) || ' ' ||
         list_extract({_sql_list(FX.LAST)}, (fid // 20) % 20 + 1) AS name,
       list_extract({_sql_list(FX.COUNTRIES)}, fid % 16 + 1) AS federation,
       CAST(1950 + fid * 3 % 60 AS VARCHAR) AS b_year,
       CASE WHEN fid % 4 = 0 THEN 'Female' ELSE 'Male' END AS sex,
       list_extract({_sql_list(FX.TITLES)}, fid % 6 + 1) AS fide_title,
       CAST(2000 + fid * 13 % 800 AS VARCHAR) AS std_rating,
       CASE WHEN fid % 7 = 0 THEN ''
            ELSE CAST(2000 + fid * 17 % 800 AS VARCHAR) END AS rapid_rating,
       CASE WHEN fid % 3 = 0 THEN ''
            ELSE CAST(2000 + fid * 19 % 800 AS VARCHAR) END AS blitz_rating,
       'data:image/jpeg;base64,p' || CAST(fid % 97 AS VARCHAR) AS profile_photo,
       CASE WHEN fid % 5 = 0 THEN ''
            ELSE CAST(fid * 7 % 1000 + 1 AS VARCHAR) END AS world_rank
"""


@query(
    "q45_player_profiles",
    f"""
    WITH ids AS (SELECT DISTINCT c_custkey AS fid FROM customer)
    SELECT CAST(fid AS VARCHAR) AS fide_id,
           {_PROFILE_FIELDS_SQL}
    FROM ids ORDER BY fid
    """,
)
def q45_player_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/J-2 scrapePlayerData end-to-end: customer keys as fide_ids →
    profile URL build → fused fetch+parse (scalar-to-struct
    mapInPandas) → player_data records
    (data_fetching_processing.py:92-116, database_management.py:8-24)."""
    ids = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").cast("string").alias("fide_id"))
        .distinct()
    )
    # localCheckpoint before the global sort: orderBy's range
    # partitioner SAMPLES its child, which re-executes the fused
    # fetch+parse Python stage a second time (measured: sort added
    # 0.68 s on a 0.55 s stage at sf0.1).  Materializing the bounded
    # profile table once (size = id list, the operator's existing
    # fan-in bound) makes the sampling pass read rows, not re-fetch.
    return P.profiles_for_ids(spark, ids).localCheckpoint().orderBy(
        F.col("fide_id").cast("bigint")
    )


@query(
    "q46_profile_games_join",
    f"""
    WITH prof AS (
      SELECT fid, {_PROFILE_FIELDS_SQL}
      FROM (SELECT DISTINCT o_custkey AS fid FROM orders)
    )
    SELECT p.federation,
           COUNT(DISTINCT p.fid) AS n_players,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_spend
    FROM prof p JOIN orders o ON o.o_custkey = p.fid
    GROUP BY p.federation ORDER BY p.federation
    """,
)
def q46_profile_games_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 against real profile rows (ui/streamlit_ui.py:93-128: profile
    header joined to the player's game analytics): crawled player_data
    records broadcast-joined to the fact table, revenue per federation."""
    o = load(spark, sf_dir, "orders")
    ids = o.select(F.col("o_custkey").cast("string").alias("fide_id")).distinct()
    prof = P.profiles_for_ids(spark, ids).withColumn(
        "fid", F.col("fide_id").cast("bigint")
    )
    return (
        o.join(F.broadcast(prof), o.o_custkey == prof.fid)
        .groupBy("federation")
        .agg(
            F.countDistinct("fid").alias("n_players"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double").alias("total_spend"),
        )
        .orderBy("federation")
    )


@query("q47_seed_search")
def q47_seed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fetch_players seed-search entry stage (rows-only: the synthetic
    search page is PRNG-keyed, not SQL-recomputable; the pytest
    sequential oracle is the correctness gate): query → member-block
    parse → admission/canonicalization → seed list in result order."""
    return P.seeds_from_query(spark, "carlsen")


# --------------------------------------------------------------------------
# Time-series joins (beyond the reference): as-of + range — DuckDB has
# native ASOF JOIN / inequality joins, so both carry full value oracles.
# --------------------------------------------------------------------------
from fide_crawler_spark.operators import asof as AJ  # noqa: E402


@query(
    "q48_asof_join",
    """
    WITH clicks AS (
      SELECT user_id, ts, MAX(value) AS click_value
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.value, c.click_value AS click_value_asof
    FROM events e
    ASOF LEFT JOIN clicks c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    ORDER BY e.event_id
    """,
)
def q48_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event gets the value of the user's latest click
    at-or-before it (pandas merge_asof / kdb aj semantics).  The Spark
    side is the union+window composition (operators/asof.py) — one
    shuffle by user, no nested loop; DuckDB's native ASOF JOIN is the
    oracle.  Right side pre-aggregated per (user, ts) so ties are
    deterministic in both engines."""
    e = load(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    return (
        AJ.asof_join(
            e.select("event_id", "user_id", "ts", "value"),
            clicks,
            on=["user_id"],
            value_cols=["click_value"],
        )
        .select("event_id", "user_id", "value", "click_value_asof")
        .orderBy("event_id")
    )


@query(
    "q49_range_join",
    """
    WITH intervals AS (
      SELECT o_orderkey AS interval_id,
             o_orderdate AS lo,
             o_orderdate + INTERVAL 3 DAY AS hi
      FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT i.interval_id, COUNT(e.event_id) AS n_events,
           CAST(COALESCE(SUM(CAST(e.value AS DECIMAL(18,6))), 0) AS DOUBLE)
               AS sum_value
    FROM intervals i LEFT JOIN events e
      ON e.ts BETWEEN i.lo AND i.hi
    GROUP BY i.interval_id ORDER BY i.interval_id
    """,
)
def q49_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (point-in-interval) join via bin-explode + equi-join +
    exact filter (operators/asof.range_join_binned) — the scale path
    that avoids the BroadcastNestedLoopJoin a raw BETWEEN join plans.
    Left semantics recovered by re-joining interval ids for the
    zero-match count=0 rows."""
    o, e = load(spark, sf_dir, "orders"), load(spark, sf_dir, "events")
    intervals = o.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("interval_id"),
        F.col("o_orderdate").alias("lo"),
        (F.col("o_orderdate") + F.expr("interval 3 days")).alias("hi"),
    )
    matched = AJ.range_join_binned(
        e.select(F.col("event_id"), F.col("ts"), F.col("value")),
        intervals, "ts", "lo", "hi",
    )
    counts = matched.groupBy("interval_id").agg(
        F.count("event_id").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        .alias("sum_value"),
    )
    return (
        intervals.select("interval_id")
        .join(counts, "interval_id", "left")
        .select(
            "interval_id",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("interval_id")
    )


# --------------------------------------------------------------------------
# Training-shard packing (beyond the reference): the corpus export step.
# --------------------------------------------------------------------------
from fide_crawler_spark.operators import shards as SH  # noqa: E402


@query(
    "q50_shard_packing",
    """
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST((SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens) // 4096 AS BIGINT) AS shard_id
    FROM toks ORDER BY doc_id
    """,
)
def q50_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment over the corpus in doc_id order —
    the two-pass scalable form (operators/shards.pack_shards), whose
    boundaries are byte-equal to the oracle's global running-sum
    window."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return SH.pack_shards(
        toks, "n_tokens", 4096, [F.col("doc_id").asc()]
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Deterministic sampling (beyond the reference): curation-pipeline ops.
# --------------------------------------------------------------------------
from fide_crawler_spark.operators import sampling as SA  # noqa: E402

_RATE_HEX = SA.sample_threshold_hex(0.25)


@query(
    "q51_deterministic_sample",
    f"""
    WITH hashed AS (
      SELECT doc_id, source,
             md5(CAST(doc_id AS VARCHAR) || 'r2salt') AS h
      FROM documents
    ),
    kept AS (SELECT * FROM hashed WHERE substring(h, 1, 8) < '{_RATE_HEX}'),
    ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
      FROM hashed
    )
    SELECT 'rate' AS method, doc_id, source FROM kept
    UNION ALL
    SELECT 'stratified' AS method, doc_id, source FROM ranked WHERE rn <= 20
    ORDER BY method, source, doc_id
    """,
)
def q51_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling both ways: hash-threshold rate sample
    (pure filter, zero shuffle) and exact-k-per-source stratified
    sample via the scalable grouped_topk (no hot-stratum single-task
    window).  md5 is bit-identical across engines, so the oracle
    recomputes the exact membership."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    rate = SA.hash_sample(docs, 0.25, salt="r2salt").select(
        F.lit("rate").alias("method"), "doc_id", "source"
    )
    strat = SA.stratified_sample(docs, "source", 20, salt="r2salt").select(
        F.lit("stratified").alias("method"), "doc_id", "source"
    )
    return rate.unionByName(strat).orderBy("method", "source", "doc_id")


# --------------------------------------------------------------------------
# Decontamination + repetition quality + vocabulary sweep (beyond the
# reference): the remaining standard steps of a training-data pipeline.
# --------------------------------------------------------------------------
from fide_crawler_spark.operators import decontam as DC  # noqa: E402
from fide_crawler_spark.operators import textstats as TS  # noqa: E402


@query(
    "q52_decontamination",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(l) - 2, 1)),
               i -> array_to_string(list_slice(l, i, i + 2), ' ')))) AS gram
      FROM toks
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 37 = 0),
    hits AS (
      SELECT g.doc_id, COUNT(*) AS n_shared
      FROM grams g JOIN bench USING (gram)
      WHERE g.doc_id % 37 <> 0 GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
           COALESCE(h.n_shared, 0) >= 1 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 37 <> 0
    ORDER BY d.doc_id
    """,
)
def q52_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): every 37th
    doc plays the eval set; training docs are flagged by shared word
    3-grams.  String-keyed here so the oracle replays it exactly; the
    production default joins on xxhash64(gram)."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    return DC.contamination_flags(
        train, bench, n=3, min_overlap=1, hash_grams=False
    ).orderBy("doc_id")


@query(
    "q53_repetition_quality",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    per AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           FLOOR((1.0 - n_distinct::DOUBLE / n_tokens) * 10000 + 0.5) / 10000
             AS dup_token_frac,
           FLOOR((top::DOUBLE / n_tokens) * 10000 + 0.5) / 10000
             AS top_token_share
    FROM per ORDER BY doc_id
    """,
)
def q53_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (textstats.repetition_stats):
    duplicate-token fraction + top-token share per doc."""
    return TS.repetition_stats(load(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "q54_corpus_ngram_topk",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(l) - 1, 1)),
               i -> array_to_string(list_slice(l, i, i + 1), ' ')))) AS gram
      FROM toks
    )
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_freq
    FROM grams GROUP BY gram
    ORDER BY doc_freq DESC, gram LIMIT 20
    """,
)
def q54_corpus_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary sweep (textstats.corpus_ngram_topk): top-20
    word 2-grams by doc frequency — word-count plan, no global sort."""
    return TS.corpus_ngram_topk(load(spark, sf_dir, "documents"), n=2, k=20)


from fide_crawler_spark.operators import cluster as CL  # noqa: E402
from fide_crawler_spark.operators import pii as PI  # noqa: E402


@query(
    "q55_dup_clusters",
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(
               generate_series(1, GREATEST(len(string_split(text,' ')) - 2, 1)),
               i -> array_to_string(list_slice(string_split(text,' '), i, i + 2), ' ')
             )) AS grams
      FROM documents
    ),
    flat AS (SELECT doc, len(grams) AS n_sh, UNNEST(grams) AS shingle FROM sh),
    rawp AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, a.n_sh AS na, b.n_sh AS nb,
             COUNT(*) AS inter
      FROM flat a JOIN flat b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2, 3, 4
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM rawp
      WHERE FLOOR(CAST(inter AS DOUBLE)/(na+nb-inter)*10000+0.5)/10000 >= 0.05
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
    ),
    comp AS (SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY u)
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q55_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clustering (operators/cluster.py): n-gram
    Jaccard candidate pairs -> alternating large-star/small-star
    connected components; every doc labelled with its component's min
    doc_id.  The oracle replays the closure with a recursive CTE."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.05)
    return (
        CL.dup_clusters(docs, pairs)
        .select("doc_id", "cluster_id")
        .orderBy("doc_id")
    )


@query(
    "q56_pii_scrub",
    r"""
    WITH planted AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                THEN ' reach me at user' || doc_id || '@mail.example.org'
                ELSE '' END
             || CASE WHEN doc_id % 4 = 0
                THEN ' from 10.2.' || (doc_id % 256) || '.7' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                THEN ' acct 90210' || (doc_id + 1000000) ELSE '' END
             AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS INT)
             AS n_email,
           CAST(len(regexp_extract_all(text,
             '\b\d{1,3}(\.\d{1,3}){3}\b')) AS INT) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '\b\d{9,}\b')) AS INT)
             AS n_longnum,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
             '\b\d{9,}\b', '<NUM>', 'g') AS clean_text
    FROM planted ORDER BY doc_id
    """,
)
def q56_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/pii.py): email / IPv4 / long-number
    rules as one codegen'd regexp_replace chain, with audit counts.
    PII is planted deterministically from doc_id (the corpus itself is
    synthetic word-salad) with the same expression in both engines, so
    the redactions the oracle checks are real."""
    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" reach me at user"),
                    did.cast("string"),
                    F.lit("@mail.example.org"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 4 == 0,
                F.concat(
                    F.lit(" from 10.2."),
                    (did % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" acct 90210"), (did + 1000000).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return (
        PI.scrub(planted)
        .select("doc_id", "n_email", "n_ipv4", "n_longnum", "clean_text")
        .orderBy("doc_id")
    )


from fide_crawler_spark.operators import search as SE  # noqa: E402


@query(
    "q57_bm25_search",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    lengths AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS dl
      FROM documents
    ),
    consts AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM lengths
    ),
    postings AS (
      SELECT term, doc_id, COUNT(*) AS tf FROM toks
      WHERE term IN ('vector', 'hash', 'join')
      GROUP BY term, doc_id
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
    parts AS (
      SELECT p.doc_id,
             CAST(FLOOR(
               ln(1.0 + (CAST(c.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE)
                         + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))
               * ((CAST(p.tf AS DOUBLE) * 2.2)
                  / (CAST(p.tf AS DOUBLE)
                     + 1.2 * (1.0 - 0.75
                              + 0.75 * CAST(l.dl AS DOUBLE)
                                / (CAST(c.sum_dl AS DOUBLE)
                                   / CAST(c.n_docs AS DOUBLE)))))
               * 1000000 + 0.5) AS BIGINT) AS part
      FROM postings p
      JOIN dfreq f USING (term)
      JOIN lengths l USING (doc_id)
      CROSS JOIN consts c
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_hits,
           FLOOR(CAST(SUM(part) AS DOUBLE) / 100 + 0.5) / 10000 AS score
    FROM parts
    GROUP BY doc_id
    ORDER BY score DESC, n_hits DESC, doc_id ASC
    LIMIT 10
    """,
)
def q57_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical top-k (operators/search.py): BM25 over the inverted
    index for the query "vector hash join".  Per-(doc,term) partials
    are 1e-6-scaled BIGINTs so the per-doc sum is integer-exact and
    order-independent; the oracle replays the identical FP op order."""
    return SE.bm25_topk(load(spark, sf_dir, "documents"), "vector hash join", k=10)


@query(
    "q58_hybrid_rrf",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    lengths AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS dl
      FROM documents
    ),
    consts AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM lengths),
    postings AS (
      SELECT term, doc_id, COUNT(*) AS tf FROM toks
      WHERE term IN ('vector', 'hash', 'join')
      GROUP BY term, doc_id
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
    parts AS (
      SELECT p.doc_id,
             CAST(FLOOR(
               ln(1.0 + (CAST(c.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE)
                         + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))
               * ((CAST(p.tf AS DOUBLE) * 2.2)
                  / (CAST(p.tf AS DOUBLE)
                     + 1.2 * (1.0 - 0.75
                              + 0.75 * CAST(l.dl AS DOUBLE)
                                / (CAST(c.sum_dl AS DOUBLE)
                                   / CAST(c.n_docs AS DOUBLE)))))
               * 1000000 + 0.5) AS BIGINT) AS part
      FROM postings p JOIN dfreq f USING (term)
      JOIN lengths l USING (doc_id) CROSS JOIN consts c
    ),
    bm25 AS (
      SELECT doc_id, COUNT(*) AS n_hits,
             FLOOR(CAST(SUM(part) AS DOUBLE) / 100 + 0.5) / 10000 AS score
      FROM parts GROUP BY doc_id
      ORDER BY score DESC, n_hits DESC, doc_id ASC LIMIT 20
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT vec_id AS doc_id,
             FLOOR(
               list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (SQRT(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * SQRT((SELECT list_sum(list_transform(qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) FROM q)))
               * 10000 + 0.5) / 10000 AS score
      FROM embeddings
      ORDER BY score DESC, doc_id ASC LIMIT 20
    ),
    contrib AS (
      SELECT doc_id, CAST(FLOOR(1000000000.0 / CAST(60 + ROW_NUMBER()
               OVER (ORDER BY score DESC, doc_id ASC) AS DOUBLE)) AS BIGINT) AS c
      FROM bm25
      UNION ALL
      SELECT doc_id, CAST(FLOOR(1000000000.0 / CAST(60 + ROW_NUMBER()
               OVER (ORDER BY score DESC, doc_id ASC) AS DOUBLE)) AS BIGINT) AS c
      FROM cos
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_legs,
           FLOOR(CAST(SUM(c) AS DOUBLE) / 100000 + 0.5) / 10000 AS rrf_score
    FROM contrib GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
    """,
)
def q58_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (search.rrf_fuse): reciprocal-rank fusion of
    the BM25 top-20 (query "vector hash join") and the dense cosine
    top-20 (query = vec_id-0 embedding, vec_id read as doc_id).
    Integer contributions floor(1e9/(60+rank)) make the fused sum
    exact; the oracle replays both legs and the fusion in SQL."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    bm25 = SE.bm25_topk(docs, "vector hash join", k=20).select("doc_id", "score")
    dense = SIM.cosine_topk(emb, qv, k=20).select(
        F.col("vec_id").alias("doc_id"), F.col("cosine").alias("score")
    )
    return SE.rrf_fuse([(bm25, "score"), (dense, "score")], k=10)


@query(
    "q59_mixture_sample",
    """
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    tot AS (SELECT source, SUM(n_tokens) AS t FROM tok GROUP BY source),
    w(source, frac) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
    r AS (
      SELECT tot.source,
             LEAST(1.0, frac * 3000.0 / CAST(t AS DOUBLE)) AS rate
      FROM tot JOIN w USING (source)
    )
    SELECT doc_id, tok.source, n_tokens,
           FLOOR(rate * 10000 + 0.5) / 10000 AS rate
    FROM tok JOIN r ON tok.source = r.source
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          < CAST(FLOOR(rate * 1152921504606846976.0) AS BIGINT)
    ORDER BY doc_id
    """,
)
def q59_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture resampling (sampling.mixture_sample):
    sources src0/src1/src2 at 50/30/20% of a 3000-token budget — src0's
    rate clamps at 1.0 (keep-all), the others sample at derived rates.
    Membership = md5h60(doc_id) under floor(rate·2^60), replayed
    bit-identically by the oracle."""
    out = SA.mixture_sample(
        load(spark, sf_dir, "documents"),
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        budget_tokens=3000,
    )
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        (F.floor(F.col("rate") * 10000 + F.lit(0.5)) / 10000).alias("rate"),
    ).orderBy("doc_id")


@query(
    "q60_group_split",
    """
    SELECT doc_id, source,
           CASE WHEN ('0x' || substr(md5(source), 1, 15))::BIGINT
                     < CAST(FLOOR(0.25 * 1152921504606846976.0) AS BIGINT)
                THEN 'holdout' ELSE 'train' END AS split
    FROM documents ORDER BY doc_id
    """,
)
def q60_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free split (sampling.group_split): whole sources land on
    one side via md5h60(source) thresholding — near-dups inside a
    source can never straddle train/holdout."""
    return (
        SA.group_split(load(spark, sf_dir, "documents"), 0.25)
        .select("doc_id", "source", "split")
        .orderBy("doc_id")
    )


@query(
    "q61_incremental_dedup",
    f"""
    WITH {_GRAMS3_SQL}, {_SIG_CTE}, {_BANDS_CTE},
    newids AS (SELECT doc_id AS doc FROM documents WHERE doc_id % 10 < 2),
    sizes AS (SELECT doc, COUNT(*) AS n FROM grams GROUP BY doc),
    cross_cand AS (
      SELECT DISTINCT a.doc AS doc_new, b.doc AS doc_old
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
      WHERE a.doc IN (SELECT doc FROM newids)
        AND b.doc NOT IN (SELECT doc FROM newids)
    ),
    cross_inter AS (
      SELECT c.doc_new, c.doc_old, COUNT(*) AS i
      FROM cross_cand c
      JOIN grams ga ON ga.doc = c.doc_new
      JOIN grams gb ON gb.doc = c.doc_old AND gb.gram = ga.gram
      GROUP BY 1, 2
    ),
    cross_dom AS (
      SELECT DISTINCT ci.doc_new FROM cross_inter ci
      JOIN sizes sa ON sa.doc = ci.doc_new
      JOIN sizes sb ON sb.doc = ci.doc_old
      WHERE ci.i::DOUBLE / (sa.n + sb.n - ci.i) >= 0.8
    ),
    wcand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           AND a.doc < b.doc
      WHERE a.doc IN (SELECT doc FROM newids)
        AND b.doc IN (SELECT doc FROM newids)
    ),
    win_inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM wcand c
      JOIN grams ga ON ga.doc = c.doc_a
      JOIN grams gb ON gb.doc = c.doc_b AND gb.gram = ga.gram
      GROUP BY 1, 2
    ),
    win_dom AS (
      SELECT DISTINCT wi.doc_b FROM win_inter wi
      JOIN sizes sa ON sa.doc = wi.doc_a
      JOIN sizes sb ON sb.doc = wi.doc_b
      WHERE wi.i::DOUBLE / (sa.n + sb.n - wi.i) >= 0.8
    )
    SELECT doc AS doc_id FROM newids
    WHERE doc NOT IN (SELECT doc_new FROM cross_dom)
      AND doc NOT IN (SELECT doc_b FROM win_dom)
    ORDER BY doc_id
    """,
)
def q61_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (dedup.incremental_dedup, md5-keyed portable):
    docs with doc_id%10<2 are the "new batch", the rest the deduped
    corpus; survivors = new docs neither LSH+Jaccard-matched to the
    corpus nor dominated within the batch.  The oracle replays bands,
    cross candidates, both verifies and the double anti-join."""
    docs = load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 < 2)
    corpus = docs.filter(F.col("doc_id") % 10 >= 2)
    return (
        D.incremental_dedup(new, corpus, threshold=0.8, portable=True)
        .select("doc_id")
        .orderBy("doc_id")
    )


from fide_crawler_spark.operators import chunker as CH  # noqa: E402


@query(
    "q62_chunk_documents",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS l,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id, l, n,
             unnest(generate_series(0, GREATEST(n - 9, 0), 56)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start / 56 AS INT) AS chunk_id,
           CAST(LEAST(64, n - start) AS INT) AS n_tokens,
           array_to_string(list_slice(l, start + 1, start + 64), ' ')
             AS chunk_text
    FROM s ORDER BY doc_id, chunk_id
    """,
)
def q62_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence prep (chunker.chunk_documents): 64-token windows with
    8-token overlap (step 56) — sequence → posexplode → slice, one
    codegen'd projection, no shuffle.  Oracle replays via
    generate_series + list_slice; its upper bound GREATEST(n-9,0) is
    n - overlap - 1, matching the suppression of trailing overlap-only
    windows (a start within 8 tokens of the end duplicates the prior
    chunk's suffix)."""
    return CH.chunk_documents(
        load(spark, sf_dir, "documents"), chunk_tokens=64, overlap=8
    ).orderBy("doc_id", "chunk_id")


@query(
    "q63_curation_pipeline",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> list_contains({_STOP_SQL}, x))) AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dist
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             n_stop / GREATEST(n, 1.0) AS stop_ratio,
             1.0 - n_dist / GREATEST(n, 1.0) AS rep_ratio,
             LEAST(n / 64.0, 1.0) AS len_score
      FROM t
    ),
    scored AS (
      SELECT doc_id,
             FLOOR((0.4 * len_score + 0.3 * LEAST(stop_ratio * 4, 1.0)
                    + 0.3 * (1.0 - rep_ratio)) * 10000 + 0.5) / 10000 AS qs
      FROM r
    ),
    keep AS (
      SELECT d.doc_id, d.text, d.source
      FROM documents d JOIN scored USING (doc_id) WHERE qs >= 0.55
    ),
    ded AS (SELECT MIN(doc_id) AS doc_id FROM keep GROUP BY text),
    train AS (
      SELECT k.doc_id, k.text FROM keep k JOIN ded USING (doc_id)
      WHERE NOT (('0x' || substr(md5(k.source), 1, 15))::BIGINT
                 < CAST(FLOOR(0.25 * 1152921504606846976.0) AS BIGINT))
    ),
    t2 AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n,
             string_split(text, ' ') AS l
      FROM train
    ),
    s AS (
      SELECT doc_id, n,
             unnest(generate_series(0, GREATEST(n - 9, 0), 56)) AS start
      FROM t2
    ),
    ch AS (
      SELECT doc_id, CAST(start / 56 AS INT) AS chunk_id,
             CAST(LEAST(64, n - start) AS INT) AS n_tokens
      FROM s
    )
    SELECT doc_id, chunk_id, n_tokens,
           CAST((SUM(n_tokens) OVER (ORDER BY doc_id, chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens) // 2048 AS BIGINT) AS shard_id
    FROM ch ORDER BY doc_id, chunk_id
    """,
)
def q63_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the full curation pipeline as ONE lazy
    plan: quality filter (>= 0.55) -> exact dedup (min-id survivor per
    distinct text) -> leakage-free group split (keep the 75% train
    side) -> 64/8 chunking -> 2048-token shard packing in (doc_id,
    chunk_id) order.  Every stage is an existing operator; the oracle
    replays the whole chain in SQL."""
    docs = load(spark, sf_dir, "documents")
    kept = docs.join(
        TS.quality_score(docs)
        .filter(F.col("quality_score") >= 0.55)
        .select("doc_id"),
        "doc_id",
        "left_semi",
    )
    survivors = D.exact_dedup(kept).select("doc_id")
    deduped = kept.join(survivors, "doc_id", "left_semi")
    train = SA.group_split(deduped, 0.25).filter(F.col("split") == "train")
    chunks = CH.chunk_documents(train, chunk_tokens=64, overlap=8).select(
        "doc_id", "chunk_id", "n_tokens"
    )
    packed = SH.pack_shards(
        chunks, "n_tokens", 2048,
        [F.col("doc_id").asc(), F.col("chunk_id").asc()],
    )
    return packed.select("doc_id", "chunk_id", "n_tokens", "shard_id").orderBy(
        "doc_id", "chunk_id"
    )


from fide_crawler_spark.operators import tokenize as TK  # noqa: E402

_M31_SQL = 2147483647


@query(
    "q64_vocab_build",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT token, COUNT(*) AS freq FROM toks GROUP BY token
      ORDER BY freq DESC, token ASC LIMIT 50
    )
    SELECT token,
           CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS INT)
             AS token_id,
           freq
    FROM counts ORDER BY token_id
    """,
)
def q64_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build (tokenize.build_vocab): top-50 corpus tokens by
    frequency, id = rank in (freq desc, token asc) total order."""
    return TK.build_vocab(
        load(spark, sf_dir, "documents"), vocab_size=50
    ).orderBy("token_id")


@query(
    "q65_encode_docs",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT token, COUNT(*) AS freq FROM toks GROUP BY token
      ORDER BY freq DESC, token ASC LIMIT 50
    ),
    vocab AS (
      SELECT token,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS INT)
               AS token_id
      FROM counts
    ),
    pos_tok AS (
      SELECT doc_id, p, l[p] AS token FROM (
        SELECT doc_id, string_split(text, ' ') AS l,
               unnest(generate_series(1, len(string_split(text, ' ')))) AS p
        FROM documents
      )
    ),
    enc AS (
      SELECT pt.doc_id, pt.p, COALESCE(v.token_id, 0) AS tid
      FROM pos_tok pt LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_tokens,
           CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS INT) AS n_oov,
           CAST(SUM((p * tid) % {_M31_SQL}) % {_M31_SQL} AS BIGINT)
             AS enc_checksum
    FROM enc GROUP BY doc_id ORDER BY doc_id
    """,
)
def q65_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document encoding (tokenize.encode_docs): every doc as an
    array<int> of vocab-50 ids, OOV=0.  The oracle certifies the whole
    array through a position-weighted checksum (mod 2^31-1, reduced
    per term so both engines stay in int64) plus token/OOV counts."""
    docs = load(spark, sf_dir, "documents")
    vocab = TK.build_vocab(docs, vocab_size=50)
    enc = TK.encode_docs(docs, vocab)
    ids = F.col("token_ids")
    term = F.zip_with(
        ids,
        F.sequence(F.lit(1), F.size(ids)),
        lambda t, p: F.pmod(p.cast("bigint") * t, F.lit(_M31_SQL)),
    )
    return enc.select(
        "doc_id",
        F.size(ids).cast("int").alias("n_tokens"),
        F.size(F.filter(ids, lambda t: t == TK.OOV_ID)).cast("int").alias("n_oov"),
        F.pmod(
            F.aggregate(term, F.lit(0).cast("bigint"), lambda a, x: a + x),
            F.lit(_M31_SQL),
        ).alias("enc_checksum"),
    ).orderBy("doc_id")


@query("q66_compression_ratio")
def q66_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (textstats.compression_ratio):
    deflate-vs-raw byte ratio per doc via Arrow-batched mapInPandas.
    Rows-only at the driver (no zlib in SQL engines); the pytest oracle
    is the zlib reference itself."""
    return TS.compression_ratio(load(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


@query(
    "q67_quantize_embeddings",
    """
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
      FROM embeddings
    ),
    st AS (
      SELECT vec_id, xs, len(xs) AS n_dims,
             list_min(xs) AS mn,
             (list_max(xs) - list_min(xs)) / 255.0 AS scale
      FROM x
    ),
    q AS (
      SELECT vec_id, n_dims, mn, scale,
             CASE WHEN scale > 0 THEN
               list_transform(xs, v -> CAST(FLOOR((v - mn) / scale + 0.5)
                                            AS BIGINT))
             ELSE list_transform(xs, v -> CAST(0 AS BIGINT)) END AS qv
      FROM st
    ),
    e AS (
      SELECT vec_id, n_dims, mn, scale,
             unnest(qv) AS tid,
             unnest(generate_series(1, n_dims)) AS p
      FROM q
    )
    SELECT vec_id,
           CAST(ANY_VALUE(n_dims) AS INT) AS n_dims,
           FLOOR(ANY_VALUE(mn) * 10000 + 0.5) / 10000 AS zero_point,
           FLOOR(ANY_VALUE(scale) * 1000000 + 0.5) / 1000000 AS scale,
           CAST(SUM((p * tid) % 2147483647) % 2147483647 AS BIGINT)
             AS q_checksum
    FROM e GROUP BY vec_id ORDER BY vec_id
    """,
)
def q67_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization (similarity.quantize_embeddings):
    per-vector affine codes certified through a position-weighted
    checksum; zero_point/scale rounded for hash-stable comparison."""
    q = SIM.quantize_embeddings(load(spark, sf_dir, "embeddings"))
    ids = F.col("qvals")
    term = F.zip_with(
        ids,
        F.sequence(F.lit(1), F.size(ids)),
        lambda t, p: F.pmod(p.cast("bigint") * t.cast("bigint"), F.lit(_M31_SQL)),
    )
    return q.select(
        "vec_id",
        "n_dims",
        (F.floor(F.col("zero_point") * 10000 + F.lit(0.5)) / 10000).alias(
            "zero_point"
        ),
        (F.floor(F.col("scale") * 1000000 + F.lit(0.5)) / 1000000).alias("scale"),
        F.pmod(
            F.aggregate(term, F.lit(0).cast("bigint"), lambda a, x: a + x),
            F.lit(_M31_SQL),
        ).alias("q_checksum"),
    ).orderBy("vec_id")


@query(
    "q68_quantile_filter",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> list_contains({_STOP_SQL}, x))) AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dist
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             FLOOR((0.4 * LEAST(n / 64.0, 1.0)
                    + 0.3 * LEAST(n_stop / GREATEST(n, 1.0) * 4, 1.0)
                    + 0.3 * (1.0 - (1.0 - n_dist / GREATEST(n, 1.0))))
                   * 10000 + 0.5)
               / 10000 AS qs
      FROM t
    ),
    thr AS (SELECT quantile_cont(qs, 0.9) AS v FROM r)
    SELECT doc_id, qs AS quality_score FROM r CROSS JOIN thr
    WHERE qs >= v ORDER BY doc_id
    """,
)
def q68_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile gating (textstats.quantile_filter): keep docs at or
    above the corpus p90 of quality_score.  exact=True (linear
    interpolation, same formula as quantile_cont) for the oracle; the
    scale path is the approx_percentile sketch."""
    scored = TS.quality_score(load(spark, sf_dir, "documents")).select(
        "doc_id", "quality_score"
    )
    return TS.quantile_filter(scored, "quality_score", 0.9, exact=True).orderBy(
        "doc_id"
    )


from fide_crawler_spark.operators import enrich as EN  # noqa: E402


@query(
    "q69_dgt_enrichment",
    """
    WITH cat AS (
      SELECT 'https://lichess.org/broadcast/'
               || replace(lower(r_name), ' ', '-') AS link,
             'Event: ' || r_name AS title,
             r_regionkey AS pos
      FROM region
      UNION ALL
      SELECT 'https://example.com/not-an-event', 'junk', 99
    ),
    cand AS (
      SELECT link, title, pos,
             replace(substr(link, len('https://lichess.org/broadcast/') + 1),
                     '-', ' ') AS slug
      FROM cat
      WHERE link LIKE 'https://lichess.org/broadcast/%'
    ),
    scored AS (
      SELECT n_name, title, link, pos,
             (LENGTH(lower(n_name)) + LENGTH(slug)
              - 2 * levenshtein(lower(n_name), slug))
             / CAST(LENGTH(lower(n_name)) + LENGTH(slug) AS DOUBLE) AS ratio
      FROM nation CROSS JOIN cand
    ),
    best AS (
      SELECT n_name, title, link, ratio,
             ROW_NUMBER() OVER (
               PARTITION BY n_name ORDER BY ratio DESC, pos ASC
             ) AS rn
      FROM scored WHERE ratio > 0
    )
    SELECT n.n_name,
           CASE WHEN b.n_name IS NULL THEN 0 ELSE 1 END AS dgt,
           COALESCE(b.title, '') AS dgt_title,
           COALESCE(b.link, '') AS dgt_link,
           FLOOR(COALESCE(b.ratio, 0.0) * 10000 + 0.5) / 10000
             AS dgt_accuracy
    FROM nation n LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
      ON n.n_name = b.n_name
    ORDER BY n.n_name
    """,
)
def q69_dgt_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 data-plane: best-match catalog enrichment
    (enrich.best_match_enrich — the DGT loop's filter→clean→score→
    keep-first-max, old_scripts/fide-games-scraper-public.py:116-165)
    over a deterministic event catalog built from region names; one
    non-event link verifies the allowlist filter."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    catalog = region.select(
        F.concat(
            F.lit("https://lichess.org/broadcast/"),
            F.replace(F.lower("r_name"), F.lit(" "), F.lit("-")),
        ).alias("link"),
        F.concat(F.lit("Event: "), F.col("r_name")).alias("title"),
        F.col("r_regionkey").cast("long").alias("pos"),
    ).unionByName(
        spark.createDataFrame(
            [("https://example.com/not-an-event", "junk", 99)],
            "link string, title string, pos long",
        )
    )
    # scorer="fast": the JVM (la+lb-2*lev)/(la+lb) form, chosen here
    # because it is expressible in the DuckDB oracle (levenshtein is
    # built in; the exact 2*LCS/(la+lb) ratio is not).  The default
    # exact scorer is pinned by tests/test_export_enrich.py against a
    # true lev.ratio python replay, including indel-divergent pairs.
    out = EN.best_match_enrich(
        nation.select("n_name"), catalog, key_col="n_name", scorer="fast"
    )
    return out.select(
        "n_name",
        F.col("dgt").cast("int").alias("dgt"),
        "dgt_title",
        "dgt_link",
        (F.floor(F.col("dgt_accuracy") * 10000 + F.lit(0.5)) / 10000).alias(
            "dgt_accuracy"
        ),
    ).orderBy("n_name")


from fide_crawler_spark.operators import boilerplate as BP  # noqa: E402


@query(
    "q70_boilerplate_strip",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    lined AS (
      SELECT doc_id,
             array_to_string(
               list_transform(
                 generate_series(0, CAST(CEIL(n / 8.0) AS BIGINT) - 1),
                 i -> array_to_string(list_slice(l, i * 8 + 1, i * 8 + 8), ' ')
               ), chr(10)) AS text
      FROM toks
    ),
    lines AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             unnest(generate_series(1, len(string_split(text, chr(10)))))
               AS pos
      FROM lined
    ),
    freq AS (
      SELECT line, COUNT(DISTINCT doc_id) AS doc_freq
      FROM lines GROUP BY line
    ),
    kept AS (
      SELECT l.doc_id, l.line, l.pos
      FROM lines l JOIN freq f USING (line)
      WHERE f.doc_freq < 2
    ),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS INT) AS n_lines_after,
             string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
      FROM kept GROUP BY doc_id
    )
    SELECT ld.doc_id,
           CAST(len(string_split(ld.text, chr(10))) AS INT) AS n_lines_before,
           COALESCE(a.n_lines_after, 0) AS n_lines_after,
           COALESCE(a.cleaned_text, '') AS cleaned_text
    FROM lined ld LEFT JOIN agg a USING (doc_id)
    ORDER BY ld.doc_id
    """,
)
def q70_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (boilerplate.strip_boilerplate,
    CCNet-style): documents reshaped into 8-token lines, lines present
    in ≥2 docs stripped, remainder reassembled in order.  The operator
    keys lines by xxhash64 (8-byte shuffle keys); the oracle groups by
    the line string — identical output barring 2⁻⁶⁴ collisions, the
    same discipline q54/q24 already carry."""
    docs = load(spark, sf_dir, "documents")
    # token split hoisted into its own projection (HOF lambdas are
    # interpreted — an inline split would re-split the text per line)
    base = docs.select("doc_id", F.split("text", " ").alias("__tk"))
    tk = F.col("__tk")
    lined = base.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0), F.ceil(F.size(tk) / F.lit(8.0)).cast("long") - 1
                ),
                lambda i: F.array_join(
                    F.slice(tk, i * 8 + 1, 8), " "
                ),
            ),
            "\n",
        ).alias("text"),
    )
    return BP.strip_boilerplate(lined, min_doc_freq=2, delimiter="\n").orderBy(
        "doc_id"
    )


@query(
    "q71_deterministic_shuffle",
    """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
             ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'epoch0'),
                                      1, 15))::BIGINT ASC,
                      doc_id ASC
           ) AS BIGINT) AS shuffle_pos
    FROM documents
    ORDER BY doc_id
    """,
)
def q71_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle
    (sampling.deterministic_shuffle): global permutation by
    md5h(doc_id‖'epoch0') realized as the two-pass range-partitioned
    rank — no row_number window; the oracle replays it with
    ROW_NUMBER over the same md5h bridge."""
    from fide_crawler_spark.operators.sampling import deterministic_shuffle

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return (
        deterministic_shuffle(docs, key_col="doc_id", salt="epoch0")
        .select("doc_id", F.col("shuffle_pos").cast("long").alias("shuffle_pos"))
        .orderBy("doc_id")
    )


@query(
    "q72_frame_sample",
    """
    WITH v AS (
      SELECT doc_id, text,
             CAST(FLOOR(LENGTH(text) / 32.0) AS INT) AS n_frames
      FROM documents
    ),
    idx AS (
      SELECT doc_id, n_frames,
             unnest(generate_series(0, GREATEST(n_frames - 1, 0), 4))
               AS frame_idx
      FROM v
    )
    SELECT i.doc_id,
           CAST(i.frame_idx AS INT) AS frame_idx,
           i.n_frames,
           substr(v.text, i.frame_idx * 32 + 1, 32) AS frame_text
    FROM idx i JOIN v USING (doc_id)
    WHERE i.frame_idx < i.n_frames
    ORDER BY i.doc_id, frame_idx
    """,
)
def q72_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque binary payloads
    (multimodal.frame_sample): every 4th 32-byte frame — sequence →
    posexplode → Column.substr on BINARY, one codegen'd projection,
    zero shuffle, no Python.  The payload here is the doc text cast to
    binary (ASCII), so the oracle replays the byte slices with substr
    on the string; the output frame is cast back to string for the
    engine-portable compare."""
    from fide_crawler_spark.operators.multimodal import frame_sample

    media = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    out = frame_sample(media, frame_bytes=32, every_k=4)
    return out.select(
        "doc_id",
        "frame_idx",
        "n_frames",
        F.col("frame").cast("string").alias("frame_text"),
    ).orderBy("doc_id", "frame_idx")


@query(
    "q73_chart_series_m4",
    """
    SELECT user_id,
           CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS bucket,
           CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) * 86400 AS bucket_start,
           COUNT(*) AS n,
           FLOOR(struct_extract(
             min(struct_pack(ts := ts, tb := event_id, v := value)), 'v'
           ) * 10000 + 0.5) / 10000 AS first_v,
           FLOOR(struct_extract(
             max(struct_pack(ts := ts, tb := event_id, v := value)), 'v'
           ) * 10000 + 0.5) / 10000 AS last_v,
           FLOOR(MIN(value) * 10000 + 0.5) / 10000 AS min_v,
           FLOOR(MAX(value) * 10000 + 0.5) / 10000 AS max_v
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    ORDER BY user_id, bucket
    """,
)
def q73_chart_series_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chart-series data plane (SURVEY §2 J-6, chartseries.m4_downsample):
    the reference's rating time-series plot input
    (visualizations/visualization.py:5-19 — numeric-coerce, drop NULLs,
    date order) in its 100 TB-scalable form: per-(user, day-bucket) M4
    downsample (first/last/min/max points), one grouped aggregate with
    map-side partials, no per-key window or sort.  The pie/bar chart
    inputs (visualization.py:24-54) are the q13/q2 aggregates."""
    from fide_crawler_spark.operators.chartseries import m4_downsample

    ev = load(spark, sf_dir, "events")
    out = m4_downsample(
        ev, ["user_id"], "ts", "value", bucket_seconds=86400,
        tiebreak_col="event_id",
    )
    r4 = lambda c: (F.floor(F.col(c) * 10000 + F.lit(0.5)) / 10000).alias(c)  # noqa: E731
    return out.select(
        "user_id", "bucket", F.col("bucket_start").cast("long").alias("bucket_start"),
        "n", r4("first_v"), r4("last_v"), r4("min_v"), r4("max_v"),
    ).orderBy("user_id", "bucket")


@query(
    "q74_substring_dup_stats",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    wins AS (
      SELECT doc_id, unnest(generate_series(0, len(l) - 8)) AS start, l
      FROM toks WHERE len(l) >= 8
    ),
    w2 AS (SELECT doc_id, start,
                  array_to_string(list_slice(l, start + 1, start + 8), ' ')
                    AS win
           FROM wins),
    duph AS (SELECT win FROM w2 GROUP BY win HAVING COUNT(*) >= 2),
    cov AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, start + unnest(generate_series(0, 7)) AS pos
        FROM w2 WHERE win IN (SELECT win FROM duph)
      )
    ),
    stats AS (SELECT doc_id, COUNT(*) AS dup_tokens FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.l) AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           FLOOR(CAST(COALESCE(s.dup_tokens, 0) AS DOUBLE) / len(t.l)
                 * 10000 + 0.5) / 10000 AS dup_ratio
    FROM toks t LEFT JOIN stats s USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def q74_substring_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal (dedup.duplicated_window_stats —
    Lee et al. 2022 ExactSubstr as grouped aggregates): per doc, how
    many tokens sit inside an 8-token window whose exact text occurs
    >=2 times in the corpus.  One W-fanout explode + two partial-agg
    groupBys + a semi-join on the 8-byte window hash; no suffix array,
    no all-pairs join.  The oracle replays the window logic on raw
    strings (the Spark side keys on xxhash64 — 2^-64 collision
    tolerance, as everywhere in the dedup family)."""
    docs = load(spark, sf_dir, "documents")
    return D.duplicated_window_stats(docs, w=8).orderBy("doc_id")


@query(
    "q75_embedding_dup_clusters",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]) >= 0.4
    ),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach(u, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
    ),
    comp AS (SELECT u AS vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY u)
    SELECT e.vec_id, COALESCE(c.cluster_id, e.vec_id) AS cluster_id
    FROM embeddings e LEFT JOIN comp c USING (vec_id)
    ORDER BY e.vec_id
    """,
)
def q75_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate clustering (SemDeDup, Abbas et al. 2023, in
    its transitive form): exact embedding-cosine near-dup pairs
    (dedup.embedding_neardup_exact — the chunk-gridded all-pairs
    verifier q31 value-checks) fed into alternating large-star/
    small-star connected components (cluster.dup_clusters); every
    vector labelled with its semantic cluster's min vec_id, singletons
    labelling themselves.  Keeping one representative per cluster
    (vec_id == cluster_id) is the SemDeDup prune.  Composes the
    embedding and clustering families end-to-end in one lazy plan; at
    scale the pair generation swaps to the LSH-bucketed
    embedding_neardup_pairs with identical downstream semantics."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = D.embedding_neardup_exact(
        emb, threshold=0.4, max_chunk_rows=128
    ).select("vec_a", "vec_b")
    return (
        CL.dup_clusters(
            emb.select("vec_id"), pairs,
            id_col="vec_id", src="vec_a", dst="vec_b",
        )
        .select("vec_id", "cluster_id")
        .orderBy("vec_id")
    )


@query(
    "q76_media_real_decode",
    """
    SELECT d.doc_id,
           CAST(8 AS INT) AS width, CAST(4 AS INT) AS height,
           CAST(107 AS BIGINT) AS n_bytes,
           CAST(s.checksum AS BIGINT) AS checksum
    FROM documents d JOIN (
      SELECT doc_id, SUM(ascii(c)) AS checksum
      FROM (SELECT doc_id,
                   UNNEST(string_split(
                     rpad(substr(text, 1, 96), 96, 'x'), '')) AS c
            FROM documents)
      GROUP BY doc_id
    ) s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q76_media_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: valid binary-PPM payloads are
    synthesized JVM-side from document text (multimodal.ppm_media_table
    — header + 8×4×3 raster), then decode_media(real=True) parses them
    with the pure-numpy netpbm decoder inside the mapInPandas kernel.
    Dims come from the PPM header, checksum from decoded pixels — the
    oracle replays both from the text directly (raster == the doc's
    first 96 chars right-padded with 'x'; header is 11 bytes)."""
    docs = load(spark, sf_dir, "documents")
    return (
        MM.decode_media(MM.ppm_media_table(docs), real=True)
        .drop("features")
        .orderBy("doc_id")
    )


@query(
    "q77_lm_perplexity",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    tok AS (SELECT doc_id, unnest(l) AS t,
                   unnest(generate_series(1, len(l))) AS pos
            FROM toks),
    uni AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    vocab AS (SELECT t FROM uni ORDER BY c DESC, t ASC LIMIT 16),
    vp AS (SELECT COUNT(*) + 1 AS vp FROM vocab),
    m AS (SELECT doc_id, pos,
                 CASE WHEN t IN (SELECT t FROM vocab) THEN t
                      ELSE '<unk>' END AS m
          FROM tok),
    cu AS (SELECT m, COUNT(*) AS cu FROM m GROUP BY m),
    big AS (SELECT doc_id, m AS cur,
                   lag(m) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM m),
    big2 AS (SELECT doc_id, prev, cur FROM big WHERE prev IS NOT NULL),
    cb AS (SELECT prev, cur, COUNT(*) AS cb FROM big2 GROUP BY prev, cur),
    sc AS (SELECT b.doc_id,
                  CAST(floor(ln((CAST(cb.cb AS DOUBLE) + 0.5)
                                / (CAST(cu.cu AS DOUBLE) + 0.5 * vp.vp))
                             * 1000000000.0 + 0.5) AS BIGINT) AS lp
           FROM big2 b
           JOIN cb ON cb.prev = b.prev AND cb.cur = b.cur
           JOIN cu ON cu.m = b.prev
           CROSS JOIN vp),
    agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                   CAST(SUM(lp) AS BIGINT) AS s
            FROM sc GROUP BY doc_id)
    SELECT doc_id, n_bigrams,
           floor(-(CAST(s AS DOUBLE)
                   / (CAST(n_bigrams AS DOUBLE) * 1000000000.0))
                 * 10000 + 0.5) / 10000 AS nll,
           floor(exp(-(CAST(s AS DOUBLE)
                       / (CAST(n_bigrams AS DOUBLE) * 1000000000.0)))
                 * 10000 + 0.5) / 10000 AS ppl
    FROM agg ORDER BY doc_id
    """,
)
def q77_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM perplexity quality gate
    (operators/lmquality.py — Wenzek et al. 2019): vocab = top-16
    tokens (InSet projection, no join), model tables bounded and
    broadcast, per-doc log-prob sums in exact fixed-point BIGINT.
    The corpus-scale generalization of the reference's "trusted text"
    row filter (data_processing/data_fetching_processing.py:200)."""
    from fide_crawler_spark.operators.lmquality import lm_perplexity

    docs = load(spark, sf_dir, "documents")
    return lm_perplexity(docs, vocab_size=16, add_k=0.5).orderBy("doc_id")


@query(
    "q78_dsir_importance",
    """
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS l
                  FROM documents),
    grams AS (
      SELECT doc_id, lang, unnest(l) AS g FROM toks
      UNION ALL
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(l) - 1),
                                   i -> l[i] || ' ' || l[i+1])) AS g
      FROM toks WHERE len(l) >= 2
    ),
    feats AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS is_target,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT % 512 AS b
              FROM grams),
    cnts AS (SELECT b, COUNT(*) AS c, CAST(SUM(is_target) AS BIGINT) AS t
             FROM feats GROUP BY b),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS tc,
                   CAST(SUM(t) AS DOUBLE) AS tt
            FROM cnts),
    lr AS (SELECT b,
                  CAST(floor(ln(((CAST(t AS DOUBLE) + 1.0) / (tt + 512.0))
                                / ((CAST(c AS DOUBLE) + 1.0) / (tc + 512.0)))
                             * 1000000000.0 + 0.5) AS BIGINT) AS lr
           FROM cnts, tot),
    agg AS (SELECT doc_id, MAX(is_target) AS is_target,
                   COUNT(*) AS n_feats, CAST(SUM(lr) AS BIGINT) AS s
            FROM feats JOIN lr USING (b) GROUP BY doc_id)
    SELECT doc_id, is_target, n_feats,
           floor((CAST(s AS DOUBLE)
                  / (CAST(n_feats AS DOUBLE) * 1000000000.0))
                 * 10000 + 0.5) / 10000 AS avg_lr
    FROM agg ORDER BY doc_id
    """,
)
def q78_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed n-gram importance weights (operators/dsir.py — Xie
    et al. 2023): target domain = lang='en', raw = full corpus; 512
    hashed buckets, add-1 smoothing, exact fixed-point per-doc sums.
    portable=True keys buckets on the md5h bridge so the oracle is a
    full value replay."""
    from fide_crawler_spark.operators.dsir import dsir_weights

    docs = load(spark, sf_dir, "documents")
    return dsir_weights(
        docs, F.col("lang") == "en", n_buckets=512, add_k=1.0,
        portable=True,
    ).orderBy("doc_id")


@query(
    "q79_host_pagerank",
    """
    WITH e AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      UNION
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                      'c' || CAST(o_custkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
    r0 AS (SELECT node, 1000000000000 // n.n AS r FROM nodes, n),
    b AS (SELECT (15 * 1000000000000) // (100 * n.n) AS base FROM n),
    i1 AS (SELECT nodes.node,
                  b.base + COALESCE(CAST(s.c AS BIGINT), 0) AS r
           FROM nodes CROSS JOIN b LEFT JOIN (
             SELECT e.dst AS node,
                    SUM((r0.r * 85) // (100 * od.outdeg)) AS c
             FROM e JOIN r0 ON r0.node = e.src JOIN od ON od.src = e.src
             GROUP BY e.dst) s USING (node)),
    i2 AS (SELECT nodes.node,
                  b.base + COALESCE(CAST(s.c AS BIGINT), 0) AS r
           FROM nodes CROSS JOIN b LEFT JOIN (
             SELECT e.dst AS node,
                    SUM((i1.r * 85) // (100 * od.outdeg)) AS c
             FROM e JOIN i1 ON i1.node = e.src JOIN od ON od.src = e.src
             GROUP BY e.dst) s USING (node)),
    i3 AS (SELECT nodes.node,
                  b.base + COALESCE(CAST(s.c AS BIGINT), 0) AS r
           FROM nodes CROSS JOIN b LEFT JOIN (
             SELECT e.dst AS node,
                    SUM((i2.r * 85) // (100 * od.outdeg)) AS c
             FROM e JOIN i2 ON i2.node = e.src JOIN od ON od.src = e.src
             GROUP BY e.dst) s USING (node))
    SELECT node, r AS rank FROM i3 ORDER BY node
    """,
)
def q79_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank feeding the priority queue's host_rank
    (operators/hostrank.py — exact integer arithmetic, so the oracle
    is a full value replay with NO rounding): symmetrized
    customer↔supplier co-purchase graph, 3 iterations of join +
    grouped-sum.  The reference walks its seed list in file order
    (main.py); at web scale host importance comes from the link
    graph."""
    from fide_crawler_spark.operators.hostrank import pagerank

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
    )
    edges = cs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        cs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank(edges, iters=3).orderBy("node")


@query(
    "q80_weighted_sample",
    """
    WITH m AS (
      SELECT CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_chars,
             LEAST(1.0, (0.5 * CAST(n_chars AS DOUBLE)) / m.mean) AS p,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents, m
    )
    SELECT doc_id, n_chars, FLOOR(p * 10000 + 0.5) / 10000 AS keep_rate
    FROM s
    WHERE h < CAST(FLOOR(p * 1152921504606846976.0) AS BIGINT)
    ORDER BY doc_id
    """,
)
def q80_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic Bernoulli sample
    (sampling.weighted_sample): P(keep) = min(1, rate·w/mean(w)) with
    md5h60 membership — per-row decidable, partition-stable; the mean
    enters as one broadcast aggregate row (exact integer SUM/COUNT,
    never avg-of-doubles).  Weight = n_chars, rate = 0.5."""
    docs = load(spark, sf_dir, "documents")
    out = SA.weighted_sample(docs, "n_chars", 0.5)
    return out.select(
        "doc_id", "n_chars",
        (F.floor(F.col("keep_rate") * 10000 + F.lit(0.5)) / 10000)
        .alias("keep_rate"),
    ).orderBy("doc_id")


@query(
    "q81_retrieval_capstone",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS l,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id, l, n,
             unnest(generate_series(0, GREATEST(n - 5, 0), 28)) AS start
      FROM t
    ),
    ch AS (
      SELECT doc_id, CAST(start / 28 AS INT) AS chunk_id,
             array_to_string(list_slice(l, start + 1, start + 32), ' ')
               AS chunk_text
      FROM s
    ),
    emb AS (
      SELECT doc_id, chunk_id,
             list_transform(generate_series(0, 7), j ->
               CAST(('0x' || substr(md5(chunk_text || '|'
                                        || CAST(j AS VARCHAR)), 1, 15))::BIGINT
                    % 1000000 AS DOUBLE) / 1000000.0 - 0.5) AS v
      FROM ch
    ),
    qv AS (
      SELECT list_transform(generate_series(0, 7), j ->
               CAST(('0x' || substr(md5('table scan fast|'
                                        || CAST(j AS VARCHAR)), 1, 15))::BIGINT
                    % 1000000 AS DOUBLE) / 1000000.0 - 0.5) AS q
    ),
    sc AS (
      SELECT doc_id, chunk_id,
             list_sum(list_transform(list_zip(v, (SELECT q FROM qv)),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (SQRT(list_sum(list_transform(v, x -> x * x)))
                * SQRT((SELECT list_sum(list_transform(q, x -> x * x))
                        FROM qv))) AS c
      FROM emb
    )
    SELECT doc_id, chunk_id, FLOOR(c * 10000 + 0.5) / 10000 AS cosine
    FROM sc
    ORDER BY c DESC, doc_id, chunk_id LIMIT 10
    """,
)
def q81_retrieval_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval capstone: chunk → embed → ANN top-k as ONE lazy plan
    (the RAG-ingest shape).  chunker.chunk_documents (32-token windows,
    overlap 4) feeds a deterministic 8-dim hash embedding — a stand-in
    with the exact schema/partitioning a real encoder UDF would have
    (see multimodal.py for the honest-stub pattern) but md5h-replayable
    in SQL — then brute-force cosine top-10 vs a hash-embedded query
    string via the same zip_with/aggregate fold as similarity.py.
    Ordered by the UNROUNDED score (bit-identical both engines) so the
    LIMIT cut is deterministic; the emitted score is floor-rounded."""
    from fide_crawler_spark.operators.chunker import chunk_documents

    docs = load(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=4)

    def hash_embed(text: F.Column) -> F.Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: (
                D.md5h(F.concat(text, F.lit("|"), j.cast("string")))
                % F.lit(1000000)
            ).cast("double") / F.lit(1000000.0) - F.lit(0.5),
        )

    import hashlib

    qtext = "table scan fast"
    qv = [
        (int(hashlib.md5(f"{qtext}|{j}".encode()).hexdigest()[:15], 16)
         % 1000000) / 1000000.0 - 0.5
        for j in range(8)
    ]
    q = F.array(*[F.lit(float(x)) for x in qv])
    emb = chunks.select(
        "doc_id", "chunk_id", hash_embed(F.col("chunk_text")).alias("v")
    )
    cos = SIM._dot(F.col("v"), q) / (SIM._norm(F.col("v")) * SIM._norm(q))
    return (
        emb.select("doc_id", "chunk_id", cos.alias("__c"))
        .orderBy(F.desc("__c"), "doc_id", "chunk_id")
        .limit(10)
        .select(
            "doc_id", "chunk_id",
            (F.floor(F.col("__c") * 10000 + F.lit(0.5)) / 10000)
            .alias("cosine"),
        )
    )


@query(
    "q82_sequence_packing",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    o AS (
      SELECT doc_id, n,
             CAST(SUM(n) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - n AS BIGINT) AS off
      FROM t
    ),
    p AS (
      SELECT doc_id, n, off,
             UNNEST(generate_series(off // 64,
                                    (off + GREATEST(n - 1, 0)) // 64))
               AS seq_id
      FROM o
    )
    SELECT doc_id, seq_id,
           GREATEST(off - seq_id * 64, 0) AS seq_pos,
           GREATEST(seq_id * 64 - off, 0) AS piece_start,
           LEAST((seq_id + 1) * 64 - off, n)
             - GREATEST(seq_id * 64 - off, 0) AS piece_len
    FROM p
    ORDER BY seq_id, seq_pos, doc_id
    """,
)
def q82_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing (shards.pack_sequences): docs
    in doc_id order laid on one global token axis and chopped into
    64-token training sequences, boundary docs split into pieces.
    Offsets come from the two-pass exact layout (no global window);
    the piece explode is a JVM explode(sequence(...)).  The oracle
    replays the same arithmetic over a window cumsum — pure BIGINT,
    zero rounding."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    return SH.pack_sequences(
        docs, "n_tok", 64, [F.col("doc_id").asc()]
    ).orderBy("seq_id", "seq_pos", "doc_id")


_Q83_ORACLE = f"""
    WITH ppl_t AS (
      {ORACLE["q77_lm_perplexity"].replace("FROM agg ORDER BY doc_id", "FROM agg")}
    ),
    ranked AS (
      SELECT doc_id, ppl,
             ROW_NUMBER() OVER (ORDER BY ppl, doc_id) AS rk,
             COUNT(*) OVER () AS n
      FROM ppl_t
    ),
    b AS (
      SELECT doc_id, ppl,
             CAST(FLOOR(3.0 * (rk - 1) / n) AS BIGINT) AS bucket,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM ranked
    )
    SELECT doc_id, ppl, bucket FROM b
    WHERE bucket = 0
       OR (bucket = 1 AND h < 576460752303423488)
       OR (bucket = 2 AND h < 115292150460684697)
    ORDER BY doc_id
"""


@query("q83_ccnet_bucket_sample", _Q83_ORACLE)
def q83_ccnet_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail curation (Wenzek et al. 2019): docs
    ranked by bigram-LM perplexity (q77's scorer), split into exact
    rank terciles — bucket = floor(3·(rk−1)/n) over the
    (ppl, doc_id) total order, computed with the two-pass
    rank.grouped_rank (NO unpartitioned window) and one broadcast
    count row — then sampled per bucket with md5h60 membership:
    head kept whole, middle at 1/2 (h < 2^59), tail at 1/10
    (h < floor(2^60/10)).  The full CCNet shape as one lazy plan;
    every stage deterministic under any parallelism."""
    from fide_crawler_spark.operators.lmquality import lm_perplexity
    from fide_crawler_spark.operators.rank import grouped_rank

    docs = load(spark, sf_dir, "documents")
    ppl = lm_perplexity(docs, vocab_size=16, add_k=0.5).select("doc_id", "ppl")
    ranked = grouped_rank(
        ppl, [], [F.asc("ppl"), F.asc("doc_id")], rank_col="rk"
    )
    n = ppl.agg(F.count(F.lit(1)).alias("__n"))
    b = ranked.join(F.broadcast(n)).select(
        "doc_id", "ppl",
        F.floor(F.lit(3.0) * (F.col("rk") - 1) / F.col("__n"))
        .cast("bigint").alias("bucket"),
        D.md5h(F.col("doc_id").cast("string")).alias("__h"),
    )
    keep = (
        (F.col("bucket") == 0)
        | ((F.col("bucket") == 1) & (F.col("__h") < F.lit(576460752303423488)))
        | ((F.col("bucket") == 2) & (F.col("__h") < F.lit(115292150460684697)))
    )
    return b.filter(keep).drop("__h").orderBy("doc_id")
