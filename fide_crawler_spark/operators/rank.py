"""Scalable grouped/global rank — the 10^10-row form of row_number().

``row_number().over(Window.partitionBy(g).orderBy(o))`` funnels each
group through ONE task; with a single hot host (or a global rank, where
the group is empty) that serializes the whole frontier.  This operator
computes identical ranks in two fully-parallel passes:

1. range-partition + local sort on (group, order) — Spark's scalable
   sort (sampled boundaries, no single-task collapse);
2. per-partition per-group row counts (tiny: ≤ groups-spanning-
   boundaries + partitions entries) are collected, prefix-summed on the
   driver, and broadcast back; a vectorized Arrow pass adds
   ``rank = group_prefix_offset + local_position``.

Correctness requires the (group, order) key to be TOTAL (no ties) —
the engine's priority order always ends with the unique ``url``
(frontier.priority_order).  Boundary sampling nondeterminism does not
affect ranks: offsets are computed from the partitions actually
produced.

Equivalence to the window form is asserted in tests/test_rank.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PID = "__pid"
_GKEY = "__gkey"
_MID = "__mid"


# target bytes per explicit range partition: AQE's own advisory sizing
# ballpark (guide §2.2)
RANGE_TARGET_BYTES = 64 << 20


def adaptive_range_partitions(df: DataFrame) -> int:
    """Size-adaptive partition count for an explicit repartitionByRange
    (which AQE cannot coalesce): ceil(estimated bytes /
    RANGE_TARGET_BYTES), capped at ``spark.sql.shuffle.partitions``.  At
    cluster scale the cap keeps today's behavior (the estimate exceeds
    partitions × target); on small inputs it stops a 5k-row frame from
    fanning into 32 near-empty sorted partitions, each paying task
    launch + (for the two-pass operators) a stats row and a
    python-worker or join probe."""
    cap = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    try:
        nbytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # estimation unavailable — keep today's behavior
        return cap
    return max(1, min(cap, -(-nbytes // RANGE_TARGET_BYTES)))


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
    caches: list | None = None,
) -> DataFrame:
    """1-based rank within each group (global rank if group_cols=[]),
    ordered by ``order_cols`` — which must include a unique tie-break.

    The operator persists its sorted layout; pass ``caches`` to receive
    the cached DataFrame and ``unpersist()`` it once the returned plan
    has been consumed — otherwise it lives until session end.
    """
    spark = df.sparkSession
    p = num_partitions or adaptive_range_partitions(df)
    sort_exprs = [F.col(g).asc() for g in group_cols] + list(order_cols)
    gkey = (
        F.concat_ws("\x1f", *[F.col(g).cast("string") for g in group_cols])
        if group_cols
        else F.lit("")
    )
    # persist() pins one physical layout: the two passes are separate
    # jobs, and without it AQE may re-plan (coalesce) the range shuffle
    # differently per job, shifting partition ids between pass 1 and 2.
    #
    # _MID (monotonically_increasing_id) is the row's position marker:
    # within a partition the ids are consecutive in row order (the
    # expression is a per-partition counter plus pid<<33 — consecutive-
    # within-partition is implementation behavior, pinned against the
    # row_number window form in tests/test_rank.py), and the rows are
    # already in (group, order) order from the sort, so
    # rank = group_prefix_offset + (_MID − min(_MID of the group's
    # slice in this partition)) + 1 — a pure JVM projection.  The r5
    # form ran both passes through mapInPandas (a full Python
    # round-trip of every row, twice); now neither pass leaves the JVM.
    sorted_df = (
        df.repartitionByRange(p, *sort_exprs)
        .sortWithinPartitions(*sort_exprs)
        .withColumn(_PID, F.spark_partition_id())
        .withColumn(_GKEY, gkey)
        .withColumn(_MID, F.monotonically_increasing_id())
        .persist()
    )

    # pass 1: per-(partition, group) counts + first row id — a plain
    # partial-combined aggregate (tiny: ≤ groups-spanning-boundaries +
    # partitions rows), collected like before
    stats = (
        sorted_df.groupBy(_PID, _GKEY)
        .agg(F.count(F.lit(1)).alias("n"), F.min(_MID).alias("m0"))
        .collect()
    )
    # prefix offsets per group in partition order (range partitions are
    # emitted in ascending key order)
    running: dict[str, int] = {}
    off_rows = []
    for r in sorted(stats, key=lambda r: r[_PID]):
        off_rows.append(
            (r[_PID], r[_GKEY], running.get(r[_GKEY], 0), r["m0"])
        )
        running[r[_GKEY]] = running.get(r[_GKEY], 0) + r["n"]

    # pass 2: rank = offset + (mid − first mid of the (pid, group)
    # slice) + 1, attached via one broadcast join — same bounded
    # fan-in as the collected stats
    if off_rows:
        off_df = spark.createDataFrame(
            off_rows, f"{_PID} int, {_GKEY} string, __off long, __m0 long"
        )
        ranked = sorted_df.join(
            F.broadcast(off_df), [_PID, _GKEY]
        ).withColumn(
            rank_col,
            F.col("__off") + (F.col(_MID) - F.col("__m0")) + F.lit(1),
        )
    else:  # empty input: keep schema
        ranked = sorted_df.withColumn(rank_col, F.lit(None).cast("long"))
    out = ranked.select(
        *[c for c in df.columns], F.col(rank_col).cast("long").alias(rank_col)
    )

    # The cache must outlive the caller's action on the returned plan;
    # it holds the FULL input (pre-cap) — callers release it via the
    # ``caches`` registry or it leaks one input-sized cache per call.
    if caches is not None:
        caches.append(sorted_df)
    return out


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Top-k per group without a per-group single-task sort: exact
    grouped_rank (fully parallel) + filter ≤ k."""
    ranked = grouped_rank(
        df, group_cols, order_cols, rank_col="__grank",
        num_partitions=num_partitions,
    )
    return ranked.filter(F.col("__grank") <= k).drop("__grank")


def dequeue_rank(
    df: DataFrame,
    host_col: str,
    order_cols: list[Column],
    budget_per_host: int,
    rank_col: str = "rank",
    num_partitions: int | None = None,
    caches: list | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """Fused politeness cap + global crawl rank in ONE sorted pass.

    ``stats_out`` (if given) receives ``n_survivors`` — the exact output
    row count, already known from the pass-1 statistics — so callers
    don't need a separate count() job over the result.

    The epoch dequeue needs two ranks over the same priority order:
    row_number per host (to enforce the politeness budget) and
    row_number over the surviving rows (the crawl order).  Running
    grouped_rank twice costs two range shuffles and two cached
    materializations; this computes both from a single layout:

    * pass 1 collects per-(partition, host) counts;
    * the driver derives per-host prefix offsets AND, from
      ``min(count, max(0, budget - host_prefix))``, the number of
      budget-surviving rows in every partition → global survivor
      offsets;
    * pass 2 walks each partition once, keeps rows whose within-host
      position ≤ budget, and assigns ``rank = survivor_offset +
      local_survivor_position``.

    Output = the per-host budget cap (``row_number`` over host ≤ budget)
    followed by a global ``row_number`` over its survivors, exactly
    (asserted in tests/test_rank.py against those window forms), at
    half the shuffle cost of running grouped_topk then grouped_rank.

    Driver fan-in is bounded: because the sort leads with the priority
    tuple (not host), a host's rows scatter across partitions, so the
    raw (partition, host) count table is O(partitions × hosts) — too
    big to collect at 10^6-host scale.  Instead the per-host prefix
    sums run as a distributed window over the (tiny) stats rows, and
    the driver/broadcast receives only:

    * per-partition survivor counts (≤ partitions rows);
    * host offsets where capping can actually bite (0 < offset <
      budget — at most ``budget`` entries per over-budget host, and
      only for hosts that exceed their budget at all);
    * one ``dead_from`` partition id per over-budget host (all later
      rows of that host are dropped).

    A host that never exceeds its budget contributes nothing: a missing
    offset reads as 0 in pass 2, and the ``pos < budget`` check alone
    is then exact.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sorted_df = (
        df.repartitionByRange(p, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .withColumn(_GKEY, F.col(host_col).cast("string"))
        .persist()
    )

    budget = budget_per_host
    w_host = (
        Window.partitionBy("gkey").orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_host_all = Window.partitionBy("gkey")
    # pass 1: per-(partition, host) counts as a plain partial-combined
    # JVM aggregate — the r5 form ran a mapInPandas tally, a full
    # Python round-trip of every frontier row per epoch
    pref = (
        sorted_df.groupBy(
            F.col(_PID).alias("pid"), F.col(_GKEY).alias("gkey")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("off", F.coalesce(F.sum("n").over(w_host), F.lit(0)))
        .withColumn("tot", F.sum("n").over(w_host_all))
        .withColumn(
            "survive",
            F.least(F.col("n"), F.greatest(F.lit(0), F.lit(budget) - F.col("off"))),
        )
        .persist()
    )
    try:
        # the three driver-bound summaries ship as ONE union → ONE
        # collect job (three separate collects cost a job round-trip
        # each — measurable per-epoch overhead on many-epoch crawls;
        # the bounded fan-in arguments below are unchanged):
        #   kind 0 — per-partition survivor counts (≤ partitions rows)
        #   kind 1 — host offsets where capping can bite: offsets
        #            matter only for OVER-BUDGET hosts — if a host's
        #            total ≤ budget, every row survives regardless of
        #            offset (off + pos < total ≤ budget), so
        #            under-budget hosts spanning several partitions
        #            must NOT reach the driver (without the tot filter
        #            this is O(hosts × partitions) again in the
        #            many-light-hosts regime this redesign exists for)
        #   kind 2 — one dead_from partition id per over-budget host
        surv = (
            pref.groupBy("pid").agg(F.sum("survive").alias("v"))
            .select(F.lit(0).alias("kind"), "pid",
                    F.lit(None).cast("string").alias("gkey"), "v")
        )
        offs = pref.filter(
            (F.col("off") > 0) & (F.col("off") < budget)
            & (F.col("tot") > budget)
        ).select(F.lit(1).alias("kind"), "pid", "gkey",
                 F.col("off").alias("v"))
        dead = (
            pref.filter(F.col("off") >= budget)
            .groupBy("gkey").agg(F.min("pid").alias("pid"))
            .select(F.lit(2).alias("kind"), "pid", "gkey",
                    F.lit(0).cast("long").alias("v"))
        )
        survivors_per_pid: dict[int, int] = {}
        host_off: dict[tuple[int, str], int] = {}
        dead_from: dict[str, int] = {}
        for r in surv.unionByName(offs).unionByName(dead).collect():
            if r["kind"] == 0:
                survivors_per_pid[int(r["pid"])] = int(r["v"])
            elif r["kind"] == 1:
                host_off[(int(r["pid"]), r["gkey"])] = int(r["v"])
            else:
                dead_from[r["gkey"]] = int(r["pid"])
    finally:
        pref.unpersist()

    global_off: dict[int, int] = {}
    acc = 0
    for pid in sorted(survivors_per_pid):
        global_off[pid] = acc
        acc += survivors_per_pid[pid]
    if stats_out is not None:
        stats_out["n_survivors"] = acc
    bc = spark.sparkContext.broadcast((host_off, dead_from, global_off, budget))

    out_schema = sorted_df.drop(_PID, _GKEY).schema.add(rank_col, "long")
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_schema)

    def attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        h_off, h_dead, g_off, bgt = bc.value
        local_host: dict[str, int] = {}
        survivors_seen = 0
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf[_PID].iloc[0])
            gk = pdf[_GKEY]
            # vectorized within-host position (guide §4.2 — the r5
            # form walked every row in a Python loop): cumcount per
            # host within the batch + the carried-in count from
            # earlier batches of this task
            pos = gk.groupby(gk, sort=False).cumcount()
            if local_host:
                pos = pos + gk.map(local_host).fillna(0).astype("int64")
            counts = gk.value_counts()
            for k, v in counts.items():
                local_host[k] = local_host.get(k, 0) + int(v)
            off_map = {
                k: h_off.get(
                    (pid, k), bgt if h_dead.get(k, pid + 1) <= pid else 0
                )
                for k in counts.index
            }
            keep = (gk.map(off_map) + pos) < bgt
            out = pdf[keep.values].drop(columns=[_PID, _GKEY]).copy()
            out[rank_col] = (
                g_off[pid] + survivors_seen + keep.cumsum()[keep.values]
            ).astype("int64").values
            survivors_seen += int(keep.sum())
            yield out

    if caches is not None:
        caches.append(sorted_df)
    return sorted_df.mapInPandas(attach, schema=ddl)
