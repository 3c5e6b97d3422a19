#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout, in one process on ``local[<cores>]``
where cores is the CPU count this process may use.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` installs span wrappers
around the program's layers, records Spark stage metrics through an
event log, reports the per-layer metrics, and writes the spans with the
per-layer table to ``.perfbench/trace-<workload>-seed<seed>.json``.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
# fixed JVM heap (-Xms = -Xmx): the package default is 16g on a 15 GiB
# machine, and a heap that grows on demand makes peak memory swing by
# gigabytes between identical runs
DRIVER_MEMORY = "2g"


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class PeakRss:
    """Peak of the summed proportional resident memory (PSS) of this
    process and all its descendants (the JVM and the Python workers),
    sampled from /proc.  PSS splits shared pages among the processes
    sharing them, so Python workers forked from one daemon are not
    counted twice."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _read(path: str) -> str | None:
        try:
            with open(path) as f:
                return f.read()
        except OSError:  # the process exited between listing and reading
            return None

    def _tree_pss_kb(self) -> int:
        children: dict[int, list[int]] = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            stat = self._read(f"/proc/{pid}/stat")
            if stat:
                ppid = int(stat.rsplit(")", 1)[1].split()[1])
                children.setdefault(ppid, []).append(int(pid))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            rollup = self._read(f"/proc/{pid}/smaps_rollup") or ""
            for line in rollup.splitlines():
                if line.startswith("Pss:"):
                    total += int(line.split()[1])
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_pss_kb())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling (idempotent); returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024


class Context:
    """What a workload needs: the session, tracer, sizing and work dir."""

    def __init__(self, spark, tracer, seed: int, seconds: float, cores: int, work: str, rss: PeakRss):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.seconds, self.cores, self.work = seconds, cores, work
        self.rss = rss
        self.peak_rss_mb = 0.0

    def end_window(self) -> None:
        """Called when the measured window ends: memory is sampled only
        up to here, so the benchmark's own checks do not count."""
        self.peak_rss_mb = self.rss.stop()
        self.window_end = time.perf_counter()


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: the benchmark's own tests")
    ap.add_argument("--plant", action="store_true",
                    help="corrupt one expected oracle value (self-test of the checks)")
    return ap.parse_args(argv)


def start_spark(cores: int, work: str, event_log: str | None):
    from fide_crawler_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def end_to_end(s, session_s: float, peak_rss_mb: float) -> dict[str, float]:
    wall = statistics.median(s.walls)
    return {
        "setup_s": session_s + s.warmup_s + statistics.median(s.setups),
        "wall_s": wall,
        "ops_per_s": s.n_items / wall,
        "ok_ratio": 1 - s.failed / s.attempted,
        "peak_rss_mb": peak_rss_mb,
        "stored_bytes_per_doc": s.stored_bytes_per_doc,
        "written_bytes_per_doc": s.written_bytes_per_doc,
    }


def per_layer(workload: str, tracer, samples, session_s: float, groups) -> dict[str, float]:
    """Every declared per-layer metric; those of layers the workload
    never calls read 0."""
    from perfbench.trace import SpanIndex, crawl_layers, query_layers
    from perfbench.workloads import QUERY_LIST

    ix = SpanIndex(tracer.spans, groups)
    out = dict.fromkeys(metric_units("per_layer"), 0.0)
    out["session.start_s"] = session_s
    out["trace.wall_s"] = statistics.median(samples.walls)
    if workload == "crawl":
        inits = [ix.dur(x) for x in tracer.spans if x["name"] == "frontier.init"]
        out["frontier.init_s"] = statistics.median(inits)
        out.update(crawl_layers(ix, samples.roots))
    else:
        out.update(query_layers(ix, samples.roots, QUERY_LIST))
    return out


def measure(args, work: str) -> tuple[object, dict[str, float]]:
    """Run the workload; returns its samples and metric values."""
    from perfbench import trace as tr
    from perfbench import workloads as wl

    cores = len(os.sched_getaffinity(0))
    event_log = os.path.join(work, "eventlog") if args.trace else None
    rss = PeakRss()
    rss.start()
    try:
        t0 = time.perf_counter()
        spark = start_spark(cores, work, event_log)
        session_s = time.perf_counter() - t0
        try:
            if args.workload == "crawl":
                # the epoch path's shuffles are explicitly partitioned;
                # crawl jobs run with AQE off (jobs/crawl_job.py)
                spark.conf.set("spark.sql.adaptive.enabled", "false")
            tracer = tr.NullTracer()
            if args.trace:
                tracer = tr.Tracer(spark.sparkContext, f"{args.workload}-seed{args.seed}")
                tr.install(tracer)
            ctx = Context(spark, tracer, args.seed, args.seconds, cores, work, rss)
            if args.workload == "crawl":
                samples = wl.run_crawl(ctx, wl.CRAWL_SPECS[args.size], args.plant)
            else:
                samples = wl.run_analytics(ctx, args.size, args.plant)
            checks_s = time.perf_counter() - ctx.window_end
        finally:
            t0 = time.perf_counter()
            stop_spark(spark)
    finally:
        rss.stop()
    print(
        f"perfbench {args.workload} seed={args.seed}: session {session_s:.1f} s, "
        f"warm-up {samples.warmup_s:.1f} s, set-ups {sum(samples.setups):.1f} s, "
        f"ops {[round(w, 3) for w in samples.walls]} s, checks {checks_s:.1f} s, "
        f"stop {time.perf_counter() - t0:.1f} s",
        file=sys.stderr,
    )

    if not args.trace:
        return samples, end_to_end(samples, session_s, ctx.peak_rss_mb)
    values = per_layer(args.workload, tracer, samples, session_s, tr.group_metrics(event_log))
    path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "layers": values}, f, indent=1)
    return samples, values


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(OUT_DIR, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every file the run writes stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata file in the system /tmp from the launcher JVM (the
    # driver JVM gets the same flag in start_spark)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_EPOCH_PROFILE", None)
    try:
        samples, values = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = metric_units("per_layer" if args.trace else "end_to_end")
    if set(values) != set(units):
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    print(json.dumps({
        "correct": samples.failed == 0,
        "attempted": samples.attempted,
        "failed": samples.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
