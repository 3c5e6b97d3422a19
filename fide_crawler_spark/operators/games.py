"""Game-history analytics — the reference's full query surface on Spark.

Each function reproduces one of the reference's pandas/SQL computations
over the ``game_history`` table (typed per FIXTURES.md §3); the golden
SQLite DB (``/root/reference/database/fide_data.db``) is the parity
fixture (tests/test_games_golden.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEDUP_KEY = ["date", "tournament_name", "player_name", "opponent_name", "result"]


def typed_ingest(raw: DataFrame) -> DataFrame:
    """TEXT-everything SQLite rows → typed columns (reference coerces at
    read time: pd.to_numeric/astype/to_datetime,
    data_processing/data_fetching_processing.py:250-254)."""
    return raw.select(
        F.col("id").cast("long").alias("id"),
        F.col("fide_id").cast("string"),
        F.to_date("date", "yyyy-MM-dd").alias("date"),
        "tournament_name",
        "player_name",
        F.col("player_rating").cast("int"),
        "player_color",
        "opponent_name",
        F.col("opponent_rating").cast("int"),
        F.col("result").cast("double"),
        F.col("chg").cast("double"),
        F.col("k").cast("int"),
        F.col("k_chg").cast("double"),
    )


def dedup_keepfirst(games: DataFrame, order_col: str = "id") -> DataFrame:
    """W1: ROW_NUMBER() OVER (PARTITION BY 5-col key ORDER BY id),
    DELETE rn>1 (database/database_management.py:56-71) — keep-first
    semantics preserved exactly (ORDER BY the monotonic ingest id)."""
    w = Window.partitionBy(*DEDUP_KEY).orderBy(order_col)
    return (
        games.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def elo_evolution(games: DataFrame) -> DataFrame:
    """ui/streamlit_ui.py:130-150: first/last rating by date (G8),
    delta, avg opponent rating (G2), min/max date (G3), count (G4) —
    one aggregation pass per player."""
    return games.groupBy("fide_id").agg(
        F.min_by("player_rating", F.struct("date", "id")).alias("initial_rating"),
        F.max_by("player_rating", F.struct("date", "id")).alias("final_rating"),
        (
            F.max_by("player_rating", F.struct("date", "id"))
            - F.min_by("player_rating", F.struct("date", "id"))
        ).alias("delta_rating"),
        F.round(F.avg("opponent_rating"), 2).alias("avg_opponent_rating"),
        F.date_format(F.min("date"), "yyyy-MM-dd").alias("min_date"),
        F.date_format(F.max("date"), "yyyy-MM-dd").alias("max_date"),
        F.count(F.lit(1)).alias("total_games"),
    )


def last3_tournaments(games: DataFrame) -> DataFrame:
    """ui/streamlit_ui.py:152-208: groupBy(tournament, date) with
    avg/sum/count (G1), result string "points/games" with the
    integer-points formatting quirk (H12/H13: '6/7' not '6.0/7'),
    int-truncated avg rating, top-3 latest (F2)."""
    summary = games.groupBy("fide_id", "tournament_name", "date").agg(
        F.floor(F.avg("opponent_rating")).cast("int").alias("avg_opponent_rating"),
        F.sum("result").alias("points"),
        F.count(F.lit(1)).alias("games_played"),
    )
    pts = F.col("points")
    pts_str = F.when(
        pts == F.floor(pts), F.format_string("%.0f", pts)
    ).otherwise(pts.cast("string"))
    w = Window.partitionBy("fide_id").orderBy(
        F.desc("date"), F.asc("tournament_name")
    )
    return (
        summary.withColumn(
            "tournament_result",
            F.concat(pts_str, F.lit("/"), F.col("games_played").cast("string")),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .drop("_rn")
        .orderBy("fide_id", F.desc("date"))
    )


def performance_pies(games: DataFrame) -> DataFrame:
    """ui/streamlit_ui.py:211-249: the 9 win/draw/loss × overall/white/
    black counts (B2/B3 + G4), one pass via sum(when(...))."""
    def cnt(pred):
        return F.sum(F.when(pred, 1).otherwise(0))

    r, c = F.col("result"), F.col("player_color")
    return games.groupBy("fide_id").agg(
        cnt(r == 1.0).alias("win_count"),
        cnt(r == 0.5).alias("draw_count"),
        cnt(r == 0.0).alias("loss_count"),
        cnt((c == "white") & (r == 1.0)).alias("win_white"),
        cnt((c == "white") & (r == 0.5)).alias("draw_white"),
        cnt((c == "white") & (r == 0.0)).alias("loss_white"),
        cnt((c == "black") & (r == 1.0)).alias("win_black"),
        cnt((c == "black") & (r == 0.5)).alias("draw_black"),
        cnt((c == "black") & (r == 0.0)).alias("loss_black"),
    )


def filtered_history(
    games: DataFrame,
    results: list[float] | None = None,
    opponent_substr: str | None = None,
) -> DataFrame:
    """ui/streamlit_ui.py:285-339: result IN-list filter (B4), case-
    insensitive opponent substring (B5, with the reference's
    strip().lower()), date-desc display sort (F3)."""
    out = games
    if results:
        out = out.filter(F.col("result").isin(results))
    if opponent_substr:
        sub = opponent_substr.strip().lower()
        out = out.filter(F.lower(F.col("opponent_name")).contains(sub))
    return out.orderBy(F.desc("date"), "id").select(
        "date", "tournament_name", "player_name", "player_rating",
        "player_color", "opponent_name", "opponent_rating", "result",
        "chg", "k", "k_chg",
    )


def result_distribution(games: DataFrame) -> DataFrame:
    """old_scripts/fide-player-stats-en-US.py:516-519: value_counts
    (normalize=True)*100 (G6)."""
    w = Window.partitionBy("fide_id")
    return (
        games.groupBy("fide_id", "result")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "pct", F.round(F.lit(100.0) * F.col("n") / F.sum("n").over(w), 4)
        )
        .orderBy("fide_id", "result")
    )
