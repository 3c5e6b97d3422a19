"""Real-HTTP fetch path driven by an in-process http.server.

The fused stage's ``mode="http"`` (operators/parse.py:fetch_parse_stage
over sources/fetcher.py:_http_fetch_batch) is the production surface
that cannot reach the network in tests; this serves the SAME
deterministic payloads from 127.0.0.1 and asserts:

* span-sequence equality — a page fetched over real HTTP parses to the
  exact spans the synthetic path (and fixtures.synth_spans ground
  truth) produces for the same payload;
* 404 → status='failed', empty spans (reference analog: swallow-and-skip,
  data_processing/data_fetching_processing.py:195-196);
* a response slower than the socket timeout → status='failed'
  (reference analog: the 10 s timeout at
  old_scripts/fide-games-scraper-public.py:22 and @retry at :48 —
  failures surface as rows the scheduler can retry, never exceptions).

The server runs in a daemon thread; Spark's python workers are separate
processes on the same host, so requests really cross a socket.
"""

from __future__ import annotations

import datetime
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pandas as pd
import pytest

from fide_crawler_spark.fixtures import calc_url, parse_page, render_page, synth_spans
from fide_crawler_spark.operators.parse import FUSED_META_COLS, fetch_parse_stage
from fide_crawler_spark.sources.fetcher import _http_fetch_batch

_ROW_DDL = (
    "url string, url_hash bigint, fide_id string, period date, "
    "seed_pos int, retry_count int, rank bigint"
)


class _Handler(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 (stdlib naming)
        parsed = urllib.parse.urlparse(self.path)
        qs = urllib.parse.parse_qs(parsed.query)
        if parsed.path == "/page":
            doc_id = qs["id"][0]
            body = render_page(doc_id).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif parsed.path == "/slow":
            time.sleep(3.0)
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"too late")
        else:
            self.send_error(404)

    def log_message(self, *a):  # silence per-request stderr lines
        pass


@pytest.fixture(scope="module")
def http_base():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _fetch(spark, urls):
    """Run the fused stage in http mode on frontier-shaped rows; the
    meta columns carry each row's position so passthrough is checked."""
    rows = [
        (u, 1000 + i, str(100 + i), datetime.date(2023, 1, 1), i, 0, i + 1)
        for i, u in enumerate(urls)
    ]
    df = spark.createDataFrame(rows, _ROW_DDL)
    out = fetch_parse_stage(df, mode="http").collect()
    assert len(out) == len(urls)
    for r in out:
        i = urls.index(r["doc_id"])
        assert [r[c] for c in FUSED_META_COLS] == list(rows[i][1:])
    return {r["doc_id"]: r for r in out}


def _spans(row):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]


def test_http_spans_match_synthetic(spark, http_base):
    doc_ids = [calc_url(str(100 + i), "2023-01-01") for i in range(6)]
    urls = [f"{http_base}/page?id={urllib.parse.quote(d)}" for d in doc_ids]
    by_url = _fetch(spark, urls)
    for d, u in zip(doc_ids, urls):
        row = by_url[u]
        assert row["status"] == "fetched"
        # byte-identical payload → identical parsed span sequence →
        # identical ground truth (kind, text, media_ref, offset)
        assert _spans(row) == [
            (s.kind, s.text, s.media_ref, s.offset) for s in synth_spans(d)
        ]


def test_http_404_marks_failed_not_raises(spark, http_base):
    row = _fetch(spark, [f"{http_base}/nope"])[f"{http_base}/nope"]
    assert row["status"] == "failed" and row["spans"] == []


def test_http_timeout_marks_failed(http_base):
    t0 = time.time()
    out = _http_fetch_batch(pd.Series([f"{http_base}/slow"]), timeout=0.5)
    assert list(out["status"]) == ["failed"] and list(out["page"]) == [""]
    # failed at the 0.5 s socket timeout, not after the 3 s sleep
    assert time.time() - t0 < 2.5


def test_http_mixed_batch_keeps_good_rows(spark, http_base):
    good = f"{http_base}/page?id=doc-x"
    bad = f"{http_base}/missing"
    by_url = _fetch(spark, [good, bad])
    assert by_url[good]["status"] == "fetched"
    assert _spans(by_url[good]) == parse_page(render_page("doc-x"))
    assert by_url[bad]["status"] == "failed" and by_url[bad]["spans"] == []
