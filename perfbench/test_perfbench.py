"""The benchmark's own tests: contract, checks, and tiny end-to-end runs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402
from perfbench.workloads import crawl_mismatches, result_diff, span_digest  # noqa: E402

WORKLOADS = ["crawl", "analytics"]


def test_benchmark_json_names_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert [w["name"] for w in json.load(f)["workloads"]] == WORKLOADS


class _Oracle:
    def __init__(self, order):
        self.crawl_order = list(order)
        self.url_seen = set(order)


def _clean_crawl():
    urls = ["u0", "u1", "u2", "u3"]
    expected = {u: span_digest([("text", u, "", 0)]) for u in urls}
    docs = [(u, 0 if i < 3 else 1, i, expected[u]) for i, u in enumerate(urls)]
    return _Oracle(urls), expected, docs, set(urls)


def test_crawl_checks_pass_a_correct_crawl():
    oracle, expected, docs, seen = _clean_crawl()
    assert crawl_mismatches(oracle, expected, docs, seen) == set()


def test_crawl_checks_catch_planted_mismatches():
    oracle, expected, docs, seen = _clean_crawl()
    planted = dict(expected, u1="planted")
    assert crawl_mismatches(oracle, planted, docs, seen) == {"u1"}
    swapped = [docs[1][:1] + docs[0][1:3] + docs[1][3:], docs[0][:1] + docs[1][1:3] + docs[0][3:]]
    assert crawl_mismatches(oracle, expected, swapped + docs[2:], seen) == {"u0", "u1"}
    assert crawl_mismatches(oracle, expected, docs + docs[3:], seen) == {"u3"}
    assert crawl_mismatches(oracle, expected, docs[:3], seen - {"u3"}) == {"u3"}


def test_result_diff_ignores_row_and_column_order(tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    def stored(name, table):
        os.makedirs(tmp_path / name)
        pq.write_table(table, tmp_path / name / "part-0.parquet")
        return str(tmp_path / name)

    same = stored("same", pa.table({"a": [None, 0.5], "b": [2, 1]}))
    other = stored("other", pa.table({"a": [None, 0.25], "b": [2, 1]}))
    renamed = stored("renamed", pa.table({"a": [0.5, None], "c": [1, 2]}))
    con = duckdb.connect()
    con.execute("CREATE TABLE want AS SELECT * FROM (VALUES (1, 0.5), (2, NULL)) t(b, a)")
    assert result_diff(con, "want", same) == 0
    assert result_diff(con, "want", other) == 2
    assert result_diff(con, "want", renamed) == 1
    con.execute("INSERT INTO want SELECT * FROM want LIMIT 1")
    assert result_diff(con, "want", same) == 1


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric_and_counts_a_planted_mismatch(workload):
    out = _result(_run(workload, 0, "--plant"))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.metric_units("end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not out["correct"] and out["failed"] > 0
    assert out["metrics"]["ok_ratio"]["value"] < 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    out = _result(_run(workload, 1))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    metrics = out["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == run.metric_units("per_layer")
    if workload == "crawl":
        layers = ["scheduler.epoch_s", "urlseen.bloom_build_s", "urlseen.candidates",
                  "rank.dequeue_s", "parse.commit_s", "parse.spans",
                  "snapshot.frontier_commit_s", "snapshot.bytes_written"]
    else:
        layers = [f"queries.{q}_s" for q in workloads.QUERY_LIST]
    assert all(metrics[k]["value"] > 0 for k in layers), metrics
    assert metrics["urlseen.dropped"]["value"] == 0  # pending and fetched are disjoint
    trace = os.path.join(ROOT, ".perfbench", f"trace-{workload}-seed5.json")
    with open(trace) as f:
        spans = json.load(f)["spans"]
    assert all({"id", "name", "parent", "run", "start", "end"} <= set(s) for s in spans)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("crawl", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
