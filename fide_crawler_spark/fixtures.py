"""Deterministic synthetic crawl corpus (no network, no wall-clock).

The reference crawls FIDE rating pages: one URL per ``(fide_id, month)``
(``/root/reference/data_processing/data_fetching_processing.py:125-138``)
whose HTML decomposes into an ordered interleaving of tournament-header
text cells, per-game row cells, and ``<img>`` color-icon media refs
(``:148-194``).  In this sandbox the fetcher is a pure function of the
URL: ``synth_page(url)`` emits an HTML-ish page whose content is fully
determined by a seeded PRNG keyed on a stable hash of the URL, following
the synthesis rule in FIXTURES.md §1.  Both the sequential Python oracle
and the Spark ``mapInPandas`` fetch stage call the same function, so
span-sequence equality is a real end-to-end invariant of the pipeline
(ordering, partitioning, reassembly), not an artifact of shared code
producing the answer twice.

Everything here is pure Python with no Spark imports, so it pickles
cheaply into executors.
"""

from __future__ import annotations

import random
import zlib
from dataclasses import dataclass

FIRST = [
    "Magnus", "Hikaru", "Fabiano", "Ian", "Alireza", "Ding", "Anish",
    "Wesley", "Levon", "Richard", "Jan", "Maxime", "Teimour", "Shakhriyar",
    "Arjun", "Gukesh", "Nodirbek", "Vincent", "Pentala", "Leinier",
]
LAST = [
    "Carlsen", "Nakamura", "Caruana", "Nepomniachtchi", "Firouzja", "Liren",
    "Giri", "So", "Aronian", "Rapport", "Duda", "Vachier-Lagrave",
    "Radjabov", "Mamedyarov", "Erigaisi", "Dommaraju", "Abdusattorov",
    "Keymer", "Harikrishna", "Dominguez",
]
COUNTRIES = ["NOR", "USA", "FRA", "RUS", "CHN", "NED", "ARM", "HUN", "POL",
             "AZE", "IND", "UZB", "GER", "CUB", "ESP", "BRA"]
EVENTS = ["Open", "Masters", "Classic", "Invitational", "Cup", "Grand Prix",
          "Festival", "Championship", "Memorial", "Rapid Battle"]
CITIES = ["Wijk aan Zee", "Menorca", "Stavanger", "Bucharest", "Saint Louis",
          "Dusseldorf", "Warsaw", "Baku", "Chennai", "Sharjah", "Prague",
          "Reykjavik"]
RESULTS = [1.0, 0.5, 0.0]
TITLES = ["Grandmaster", "International Master", "FIDE Master",
          "Candidate Master", "None", "Woman Grandmaster"]


def stable_seed(key: str) -> int:
    """Process-independent 32-bit seed (builtin hash() is salted)."""
    return zlib.crc32(key.encode("utf-8"))


def calc_url(fide_id: str, period: str) -> str:
    """Calc-table URL shape per data_fetching_processing.py:138."""
    return (
        "https://ratings.fide.com/a_indv_calculations.php"
        f"?id_number={fide_id}&rating_period={period}&t=0"
    )


def profile_url(fide_id: str) -> str:
    """Profile URL shape per data_fetching_processing.py:87."""
    return f"https://ratings.fide.com/profile/{fide_id}"


def synth_profile(fide_id: str) -> dict:
    """Ground-truth ``player_data`` record for a profile page — the
    reference's scrapePlayerData output / player_data table schema
    (data_fetching_processing.py:92-116, database_management.py:8-24;
    all columns TEXT, missing fields default to '' via safe_extract).

    Every field is pure modular arithmetic of the numeric id, so a SQL
    oracle (DuckDB) can recompute the expected record independently of
    the render→fetch→parse pipeline under test.
    """
    fid = int(fide_id)
    return {
        "fide_id": str(fide_id),
        "name": f"{FIRST[fid % 20]} {LAST[fid // 20 % 20]}",
        "federation": COUNTRIES[fid % 16],
        "b_year": str(1950 + fid * 3 % 60),
        "sex": "Female" if fid % 4 == 0 else "Male",
        "fide_title": TITLES[fid % 6],
        "std_rating": str(2000 + fid * 13 % 800),
        "rapid_rating": "" if fid % 7 == 0 else str(2000 + fid * 17 % 800),
        "blitz_rating": "" if fid % 3 == 0 else str(2000 + fid * 19 % 800),
        "profile_photo": f"data:image/jpeg;base64,p{fid % 97}",
        "world_rank": "" if fid % 5 == 0 else str(fid * 7 % 1000 + 1),
    }


def render_profile_page(fide_id: str) -> str:
    """Serialize a profile record into an HTML-ish page mirroring the
    selectors scrapePlayerData reads (profile-top-title, labeled
    sibling divs, profile-top__photo img, profile-top-rating-data).
    Empty fields omit their markup entirely, so the parser's
    safe-extract default ('') is exercised, not just round-tripped."""
    p = synth_profile(fide_id)
    lines = [f"<html><body><!-- profile:{fide_id} -->"]
    lines.append(f'<div class="profile-top-title">{p["name"]}</div>')
    lines.append(
        f'<div class="profile-top__photo"><img src="{p["profile_photo"]}"></div>'
    )
    for label, key in [
        ("World Rank (Active):", "world_rank"),
        ("Federation:", "federation"),
        ("B-Year:", "b_year"),
        ("Sex:", "sex"),
        ("FIDE title:", "fide_title"),
    ]:
        if p[key]:
            lines.append(f"<div>{label}</div><div>{p[key]}</div>")
    for kind in ("std", "rapid", "blitz"):
        v = p[f"{kind}_rating"]
        if v:
            lines.append(
                f'<div class="profile-top-rating-data"><span>{kind}</span> {v}</div>'
            )
    lines.append("</body></html>")
    return "\n".join(lines)


PROFILE_FIELDS = [
    "fide_id", "name", "federation", "b_year", "sex", "fide_title",
    "std_rating", "rapid_rating", "blitz_rating", "profile_photo",
    "world_rank",
]


def parse_profile_page(fide_id: str, html: str) -> dict:
    """Profile page → player_data dict (scrapePlayerData's Spark-side
    kernel; missing markup → '' like safe_extract's default).  Pure
    line parse — called per Arrow batch by the profile stage and
    directly by the sequential oracle."""
    rec = {k: "" for k in PROFILE_FIELDS}
    rec["fide_id"] = str(fide_id)
    labels = {
        "World Rank (Active):": "world_rank",
        "Federation:": "federation",
        "B-Year:": "b_year",
        "Sex:": "sex",
        "FIDE title:": "fide_title",
    }
    for line in html.split("\n"):
        line = line.strip()
        if line.startswith('<div class="profile-top-title">'):
            rec["name"] = line[len('<div class="profile-top-title">'):-len("</div>")]
        elif '<img src="' in line and "profile-top__photo" in line:
            start = line.index('<img src="') + len('<img src="')
            rec["profile_photo"] = line[start:line.index('">', start)]
        elif line.startswith('<div class="profile-top-rating-data">'):
            body = line[len('<div class="profile-top-rating-data">'):-len("</div>")]
            kind = body[len("<span>"):body.index("</span>")]
            value = "".join(ch for ch in body if ch.isdigit())
            rec[f"{kind}_rating"] = value
        else:
            for label, key in labels.items():
                probe = f"<div>{label}</div><div>"
                if line.startswith(probe):
                    rec[key] = line[len(probe):-len("</div>")]
    return rec


def search_url(query: str) -> str:
    """Seed-search URL shape per data_fetching_processing.py:30-36."""
    return f"https://ratings.fide.com/incl_search_l.php?search={query}&simple=1"


def render_search_page(query: str) -> str:
    """Synthetic search-results page: member-blocks with (position name,
    title, profile href) per data_fetching_processing.py:47-78.  A
    seeded PRNG keyed on the query emits 3-12 entries, interleaved with
    news links and id-less hrefs that the admission filter must drop."""
    rng = random.Random(stable_seed("search:" + query))
    lines = [f"<html><body><!-- search:{query} -->", '<div class="member-block">']
    for i in range(rng.randint(3, 12)):
        fid = str(rng.randint(1000000, 9999999))
        name = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
        title = rng.choice(TITLES)
        r = rng.random()
        if r < 0.15:
            href = f"/news/{fid}"          # dropped: 'news' in url
        elif r < 0.25:
            href = "/profile/unrated"      # dropped: no numeric id
        else:
            href = f"/profile/{fid}"
        lines.append(
            '<div class="member-block__one">'
            f'<span class="member-block-info-position">{name}</span>'
            f'<span class="member-block-info-name">{title}</span>'
            f'<a href="{href}"></a></div>'
        )
    lines.append("</div></body></html>")
    return "\n".join(lines)


def parse_search_page(html: str) -> list[dict]:
    """Search page → [{name, title, url}] in document order (the Spark
    stage and the sequential oracle share this kernel; admission —
    profile-only, numeric id — happens downstream in
    canonicalize_profile_urls, mirroring the reference's filter at
    data_fetching_processing.py:66-73)."""
    out = []
    for line in html.split("\n"):
        line = line.strip()
        if not line.startswith('<div class="member-block__one">'):
            continue

        def between(pre: str, post: str) -> str:
            i = line.index(pre) + len(pre)
            return line[i:line.index(post, i)]

        out.append(
            {
                "name": between('info-position">', "</span>"),
                "title": between('info-name">', "</span>"),
                "url": between('<a href="', '"'),
            }
        )
    return out


@dataclass(frozen=True)
class Span:
    kind: str       # 'text' | 'media'
    text: str
    media_ref: str
    offset: int


def synth_spans(doc_id: str, weight: int = 1) -> list[Span]:
    """The ground-truth span sequence for a document (FIXTURES.md §1).

    Per doc: 1-3 tournament blocks; each block = 1 header text span +
    3 fixed metadata text spans (name/date/rating — mirrors the
    fixed-offset extraction at data_fetching_processing.py:167-169) +
    k∈[2,9] games, each game = 1 text span (tab-joined fields) + 1 media
    span (color icon per data_fetching_processing.py:159-162); an empty
    delimiter text span between blocks (mirrors the all-null limiter
    rows at :154-155).

    ``weight`` scales the number of tournament blocks (page size) — the
    benchmark uses it to model realistic page weights (a real FIDE calc
    page carries far more markup than the weight-1 test fixture); all
    correctness tests use the default weight=1.
    """
    rng = random.Random(stable_seed(doc_id))
    spans: list[Span] = []
    off = 0

    def emit(kind: str, text: str = "", media_ref: str = "") -> None:
        nonlocal off
        spans.append(Span(kind, text, media_ref, off))
        off += 1

    n_blocks = rng.randint(1, 3) * weight
    player_rating = rng.randint(2400, 2850)
    for b in range(n_blocks):
        if b > 0:
            emit("text")  # block delimiter (all-empty row)
        city = rng.choice(CITIES)
        event = rng.choice(EVENTS)
        year = rng.randint(2021, 2025)
        month = rng.randint(1, 12)
        day = rng.randint(1, 28)
        tname = f"{city} {event} {year}"
        tdate = f"{year:04d}-{month:02d}-{day:02d}"
        emit("text", tname)                      # header: tournament name
        emit("text", tdate)                      # meta: date
        emit("text", rng.choice(COUNTRIES))      # meta: country
        emit("text", str(player_rating))         # meta: player rating
        n_games = rng.randint(2, 9)
        for _ in range(n_games):
            opp = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
            opp_rating = rng.randint(2200, 2850)
            result = rng.choice(RESULTS)
            k = rng.choice([10, 20, 40])
            chg = round((result - 0.5) * rng.uniform(0.1, 1.0), 2)
            k_chg = round(k * chg, 2)
            emit(
                "text",
                f"{opp}\t{rng.choice(COUNTRIES)}\t{opp_rating}"
                f"\t{result}\t{chg}\t{k}\t{k_chg}",
            )
            color = "img/clr_wh.gif" if rng.random() < 0.5 else "img/clr_bl.gif"
            emit("media", media_ref=color)
    return spans


def render_page(doc_id: str, weight: int = 1) -> str:
    """Serialize the ground-truth spans into an HTML-ish page.

    This is what the synthetic fetcher returns; ``parse_page`` must
    recover the exact span sequence from it.  Unambiguous line-per-span
    format so parsing is deterministic.
    """
    lines = [f"<html><body><!-- {doc_id} -->"]
    for s in synth_spans(doc_id, weight):
        if s.kind == "media":
            lines.append(f'<img src="{s.media_ref}">')
        else:
            lines.append(f"<td>{s.text}</td>")
    lines.append("</body></html>")
    return "\n".join(lines)


def parse_page(html: str) -> list[tuple[str, str, str, int]]:
    """Page → ordered spans (kind, text, media_ref, offset).

    The vectorized parse stage (operators/parse.py) applies this over
    Arrow record batches; the sequential oracle calls it directly.
    Mirrors the soup selectors at data_fetching_processing.py:148-194:
    <td> cells → text spans, <img src> → media spans, in document order.
    """
    out: list[tuple[str, str, str, int]] = []
    off = 0
    for line in html.split("\n"):
        line = line.strip()
        if line.startswith("<td>") and line.endswith("</td>"):
            out.append(("text", line[4:-5], "", off))
            off += 1
        elif line.startswith('<img src="') and line.endswith('">'):
            out.append(("media", "", line[10:-2], off))
            off += 1
    return out


def seed_frontier_rows(
    fide_ids: list[str],
    start_period: str,
    n_months: int,
    host: str = "ratings.fide.com",
) -> list[dict]:
    """Reference crawl order: player in seed order, month ascending
    (data_fetching_processing.py:125-140).  ``seed_pos`` makes that
    order a *data* property the scheduler can sort on.
    """
    rows = []
    for pos, fid in enumerate(fide_ids):
        year, month = int(start_period[:4]), int(start_period[5:7])
        for _ in range(n_months):
            period = f"{year:04d}-{month:02d}-01"
            rows.append(
                {
                    "url": calc_url(fid, period),
                    "host": host,
                    "fide_id": fid,
                    "period": period,
                    "depth": 2,
                    "host_rank": 0,
                    "recrawl_age": 0,
                    "seed_pos": pos,
                    "status": "pending",
                    "retry_count": 0,
                    "epoch": -1,
                }
            )
            month += 1
            if month > 12:
                month, year = 1, year + 1
    return rows
