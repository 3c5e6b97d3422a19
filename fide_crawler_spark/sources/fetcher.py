"""HTTP batch fetch for the fused fetch+parse stage.

The reference fetches one URL at a time in a Python for-loop
(``data_processing/data_fetching_processing.py:140-147``) with a 10 s
socket timeout and swallow-and-skip error handling (``:195-196``).

The fetch modes (``synthetic``, ``flaky``, ``http``) belong to the fused
stage, ``operators.parse.fetch_parse_stage``: each executor task fetches
and parses one Arrow batch of frontier rows, and failed URLs come back
with ``status='failed'`` so the scheduler keeps them in the frontier
with a bumped ``retry_count`` (reference analog: ``@retry(delay=10)`` at
``old_scripts/fide-games-scraper-public.py:48``).

This module holds the ``http`` mode's batch fetch, which the crawl,
profile and player-search stages call inside their Python workers: a real
``urllib`` GET per URL with a timeout (default 10 s, matching the
reference's socket timeout at
``old_scripts/fide-games-scraper-public.py:22``).  It is exercised
without network by an in-process ``http.server`` fixture
(tests/test_fetcher_http.py) that serves the same deterministic
payloads as the synthetic mode.
"""

from __future__ import annotations

import pandas as pd


def _http_fetch_batch(urls: pd.Series, timeout: float = 10.0) -> pd.DataFrame:
    """urls → (url, status, page); any error gives ``status='failed'``
    and an empty page, never an exception."""
    import urllib.request

    statuses, pages = [], []
    for u in urls:
        try:
            with urllib.request.urlopen(u, timeout=timeout) as resp:
                pages.append(resp.read().decode("utf-8", errors="replace"))
                statuses.append("fetched")
        except Exception:
            pages.append("")
            statuses.append("failed")
    return pd.DataFrame({"url": urls, "status": statuses, "page": pages})
