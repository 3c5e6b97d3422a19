"""Scalar column helpers (SURVEY §2.H) — thin, composable Column
expressions shared by operators and queries.  Everything is JVM-side;
nothing here ever drops to Python."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def lev_ratio(a: Column | str, b: Column | str) -> Column:
    """JVM approximation of python-Levenshtein's ``lev.ratio`` (the
    reference's best-match scorer,
    old_scripts/fide-games-scraper-public.py:144):
    (la + lb - 2*lev) / (la + lb).  EXACT only when the optimal
    alignment is substitution-only — lev.ratio weights substitutions 2
    but indels 1 (ratio = 2*LCS/(la+lb)), so for unequal-length pairs
    this under-scores; use ``lev_ratio_exact`` when bit-parity with the
    reference's ranking matters."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    la, lb = F.length(a), F.length(b)
    return (la + lb - 2 * F.levenshtein(a, b)) / (la + lb)


def lev_ratio_exact(a: Column | str, b: Column | str) -> Column:
    """Exact python-Levenshtein ``lev.ratio``: weighted edit distance
    with substitution cost 2 reduces to 2*LCS/(la+lb).  Arrow-batched
    pandas UDF (the C5 enrichment join it serves scores small candidate
    sets, so the Python DP is off the hot path)."""
    import pandas as pd

    # no type hints: `pd` is function-local, so postponed annotations
    # can't be resolved by the pandas_udf inspector
    @F.pandas_udf("double")
    def ratio(sa, sb):
        def lcs(x: str, y: str) -> int:
            if not x or not y:
                return 0
            prev = [0] * (len(y) + 1)
            for cx in x:
                cur = [0]
                for j, cy in enumerate(y, 1):
                    cur.append(
                        prev[j - 1] + 1 if cx == cy else max(prev[j], cur[j - 1])
                    )
                prev = cur
            return prev[-1]

        out = []
        for x, y in zip(sa, sb):
            tot = len(x) + len(y)
            out.append(2.0 * lcs(x, y) / tot if tot else 1.0)
        return pd.Series(out)

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return ratio(a, b)


def profile_id(url: Column | str) -> Column:
    """H1: regexp_extract(r'/profile/(\\d+)')
    (data_fetching_processing.py:64-65)."""
    return F.regexp_extract(url, r"/profile/(\d+)", 1)


def digits_only(c: Column | str) -> Column:
    """H2/H3: strip non-digits before numeric cast
    (data_fetching_processing.py:113,200)."""
    return F.regexp_replace(c, r"\D", "")


def data_uri_bytes(c: Column | str) -> Column:
    """H17: base64 data-URI → bytes (profile photo decode,
    ui/streamlit_ui.py:16-19)."""
    return F.unbase64(F.substring_index(c, ",", -1))


def month_start(c: Column | str) -> Column:
    """H8: date.replace(day=1) (data_fetching_processing.py:129)."""
    return F.trunc(c, "month")


def points_games_str(points: Column, games: Column) -> Column:
    """H12/H13: '6/7' with integer points rendered without decimals
    (ui/streamlit_ui.py:179-181)."""
    pts_str = F.when(
        points == F.floor(points), F.format_string("%.0f", points)
    ).otherwise(points.cast("string"))
    return F.concat(pts_str, F.lit("/"), games.cast("string"))
