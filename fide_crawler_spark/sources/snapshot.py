"""SnapshotTable — Iceberg-semantics versioned table.

The north rule requires Iceberg tables with per-epoch snapshots of the
frontier, Bloom state, and per-partition lineage/metrics so a killed job
resumes exactly.  No Iceberg runtime jar ships in this sandbox, so this
is a thin versioned-parquet layout with the same commit semantics
(an Iceberg catalog backend can be swapped in behind the same API when
``iceberg-spark-runtime`` is on the classpath)::

    <root>/snap-00000/data/*.parquet     data files written BY this commit
    <root>/snap-00000/state/<name>.bin   opaque sidecar state (Bloom bytes)
    <root>/snap-00000/manifest.json      written LAST via tmp+rename → atomic

Sidecar state is stored as its owner serializes it; the URL-seen
filters (``operators/urlseen.py``) write zlib-deflated ``PBZ1``/``CKZ1``
blobs and still read the raw ``PBF1``/``CKF1`` blobs of older snapshots.

Like Iceberg, an **append** commit does not rewrite history: it writes
only the new data files and a manifest whose ``data_paths`` list the
parent snapshot's files plus its own.  An **overwrite** commit starts a
fresh file list.  A snapshot is visible iff its manifest exists, so a
kill at any point leaves the previous snapshot intact (publish by
rename — the same protocol Iceberg uses for its metadata pointer).

Reference analog: the SQLite file as cross-run cache with a commit per
crawl call (``data_processing/data_fetching_processing.py:236``) plus
the mid-job pickle checkpoint
(``old_scripts/fide-games-scraper-public.py:112``).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def _needs_schema_merge(manifest: dict, paths: list[str]) -> bool:
    """True when a scan spanning ``paths`` must union parquet footers.

    Plain single-footer reads are only safe when EVERY file set has a
    recorded schema fingerprint and they are all identical.  A file set
    with no fingerprint (manifest written before schema tracking
    existed) is an UNKNOWN schema — treat it as potentially different,
    otherwise the exact silent-column-drop this mechanism exists to
    prevent comes back on legacy tables.  Single-set scans never merge
    (there is only one footer)."""
    if len(paths) <= 1:
        return False
    fs = manifest.get("fileset_schemas", {})
    known = [fs[p] for p in paths if p in fs]
    if len(known) < len(paths):
        return True  # at least one unknown-schema legacy file set
    return len(set(known)) > 1


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- snapshot discovery -------------------------------------------------
    def snapshots(self) -> list[int]:
        out = []
        for name in os.listdir(self.root):
            if name.startswith("snap-") and not name.endswith(".staging") and os.path.exists(
                os.path.join(self.root, name, "manifest.json")
            ):
                out.append(int(name.split("-")[1]))
        return sorted(out)

    def latest(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def _dir(self, snap: int) -> str:
        return os.path.join(self.root, f"snap-{snap:05d}")

    # -- read ----------------------------------------------------------------
    def manifest(self, snap: int | None = None) -> dict:
        snap = self.latest() if snap is None else snap
        if snap is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        with open(os.path.join(self._dir(snap), "manifest.json")) as f:
            return json.load(f)

    def read(self, spark: SparkSession, snap: int | None = None) -> DataFrame:
        """Time-travel read: the table as of ``snap`` (default latest).

        Partitioned tables (see :meth:`commit_partition_overwrite`)
        read as a union of per-file-set scans, each filtered to the
        partition values still VALID in that file set — a newer commit
        that rewrote partition P masks P's stale rows in older file
        sets, exactly like Iceberg manifest-level overwrite semantics.

        Additive schema evolution: every commit fingerprints its file
        set's schema in the manifest (``fileset_schemas``); when the
        sets a read spans genuinely differ, the scan turns on parquet
        ``mergeSchema`` (union of columns, absent ones NULL — Iceberg
        add-column semantics).  The common identical-schema case keeps
        the plain single-footer read — no merge cost.
        """
        from pyspark.sql import functions as F

        m = self.manifest(snap)
        merge = _needs_schema_merge(m, m["data_paths"])
        reader = spark.read
        if merge:
            reader = reader.option("mergeSchema", "true")
        pcol = m.get("partition_col")
        if not pcol:
            paths = [os.path.join(self.root, p) for p in m["data_paths"]]
            return reader.parquet(*paths)
        if not m["partitions"]:
            # a table whose only commit(s) were empty: plain read of the
            # (schema-carrying, zero-row) file sets
            paths = [os.path.join(self.root, p) for p in m["data_paths"]]
            return reader.parquet(*paths)
        by_dir: dict[str, list[str]] = {}
        for value, rel in m["partitions"].items():
            by_dir.setdefault(rel, []).append(value)
        scans = []
        for rel, values in sorted(by_dir.items()):
            scan = reader.parquet(os.path.join(self.root, rel))
            scans.append(scan.filter(F.col(pcol).cast("string").isin(values)))
        out = scans[0]
        for s in scans[1:]:
            out = out.unionByName(s, allowMissingColumns=merge)
        return out

    def read_changes(
        self, spark: SparkSession, from_snap: int, to_snap: int | None = None
    ) -> DataFrame:
        """Incremental scan (Iceberg ``incremental read`` / CDC-append):
        only the rows added by commits AFTER ``from_snap`` up to
        ``to_snap`` (default latest).  Because append/partition-overwrite
        commits write new files and reference old ones, the delta is
        exactly the data paths present in ``to_snap`` but not in
        ``from_snap`` — a manifest diff, no data scan or row comparison.
        This is what an incremental consumer (e.g. a downstream dedup or
        indexing job) reads per epoch instead of the full 100 TB table.
        """
        to_snap = self.latest() if to_snap is None else to_snap
        # the path-diff equals the row-delta ONLY across append commits:
        # an overwrite / partition-overwrite / compaction rewrites rows
        # it did not change, so its whole file set would surface as
        # "new".  Refuse rather than double-deliver.
        s = to_snap
        while s is not None and s > from_snap:
            m = self.manifest(s)
            parent_paths = (
                set(self.manifest(m["parent"])["data_paths"])
                if m["parent"] is not None
                else set()
            )
            wrote = set(m["data_paths"]) - parent_paths
            if m["mode"] != "append" and wrote:
                raise ValueError(
                    f"read_changes crosses a non-append data commit "
                    f"(snap {s}, mode={m['mode']}); incremental reads are "
                    "only defined over append history"
                )
            s = m["parent"]
        old = set(self.manifest(from_snap)["data_paths"])
        to_m = self.manifest(to_snap)
        new = [p for p in to_m["data_paths"] if p not in old]
        if not new:
            return self.read(spark, to_snap).limit(0)
        reader = spark.read
        if _needs_schema_merge(to_m, new):
            # the delta spans schema evolution: footer-union like read()
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*[os.path.join(self.root, p) for p in new])

    def compact(
        self,
        spark: SparkSession,
        target_partitions: int | None = None,
        metrics: dict | None = None,
    ) -> int:
        """Small-file compaction (Iceberg ``rewrite_data_files``): rewrite
        the current data into ``target_partitions`` files as a fresh
        overwrite snapshot, carrying all sidecar state forward.  An
        append-per-epoch table accumulates one file set per epoch; scans
        then pay per-file open cost and tiny row groups.  Time travel to
        pre-compaction snapshots still works — their manifests reference
        the old files, which compaction never deletes (retention is
        :meth:`expire_snapshots`, as in Iceberg).
        """
        m = self.manifest()
        current = self.read(spark)
        n_files = len(m["data_paths"])
        if target_partitions is not None:
            current = current.repartition(target_partitions)
        # carry the parent's metrics: consumers (e.g. the scheduler's
        # pending/epoch counters) read them from the latest manifest,
        # and compaction changes no rows
        metrics = {
            **m["metrics"],
            **(metrics or {}),
            "compacted_from_filesets": n_files,
        }
        if m.get("partition_col"):
            # keep the table partitioned (a plain overwrite would drop
            # the partition map and block future partition commits)
            return self.commit_partition_overwrite(
                current, m["partition_col"],
                metrics=metrics, state=self.carry_state(),
            )
        return self.commit(
            current, mode="overwrite",
            metrics=metrics, state=self.carry_state(),
        )

    def state(self, name: str, snap: int | None = None) -> bytes:
        snap = self.latest() if snap is None else snap
        with open(os.path.join(self._dir(snap), "state", name), "rb") as f:
            return f.read()

    def carry_state(self, snap: int | None = None) -> dict[str, bytes]:
        """All state sidecars of a snapshot — pass to commit() so a
        metadata/data update carries EVERY filter blob forward (a commit
        writes only the blobs it is given; forgetting one silently drops
        it from the new snapshot)."""
        snap = self.latest() if snap is None else snap
        if snap is None:
            return {}
        return {
            name: self.state(name, snap)
            for name in self.manifest(snap)["state_files"]
        }

    # -- commit ----------------------------------------------------------------
    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Retention GC (Iceberg ``expire_snapshots``): drop all but the
        newest ``keep_last`` snapshots, then delete every data file set
        no surviving manifest references.  Completes the lifecycle story
        :meth:`compact` defers to "a separate retention concern" — an
        append-per-epoch table otherwise accumulates one file set per
        epoch forever.

        Semantics match Iceberg exactly:

        * surviving snapshots are untouched — their ``data_paths`` keep
          resolving, because an EXPIRED snapshot whose file set is still
          referenced by a surviving append chain loses only its
          visibility marker (manifest.json + sidecar state); the data
          dir stays until no survivor references it,
        * time travel to an expired snapshot fails (``manifest`` raises),
        * crash safety: visibility markers are deleted before any data,
          so an interrupted expiry can never leave a visible snapshot
          with missing files — re-running finishes the sweep (orphan
          data dirs with no manifest are collected once unreferenced).

        Also clears dead ``.staging`` dirs from killed commits (numbered
        ≤ latest; an in-flight commit stages at latest+1).  Single
        writer assumed, like all mutations here.  Returns
        ``{"expired": [...], "removed_filesets": [...]}``.
        """
        if keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        snaps = self.snapshots()
        survivors = snaps[-keep_last:]
        expired = [s for s in snaps if s not in survivors]
        referenced = {
            p for s in survivors for p in self.manifest(s)["data_paths"]
        }
        # 1. visibility first: expired snapshots stop being readable
        for s in expired:
            d = self._dir(s)
            os.remove(os.path.join(d, "manifest.json"))
            shutil.rmtree(os.path.join(d, "state"), ignore_errors=True)
        # 2. sweep file sets: any snap-*/data (including orphans from a
        # prior interrupted expiry) that no survivor references
        removed = []
        latest = survivors[-1] if survivors else -1
        for name in sorted(os.listdir(self.root)):
            if not name.startswith("snap-"):
                continue
            if name.endswith(".staging"):
                if int(name.split("-")[1].split(".")[0]) <= latest:
                    shutil.rmtree(os.path.join(self.root, name))
                continue
            num = int(name.split("-")[1])
            if num in survivors:
                continue
            if f"{name}/data" not in referenced:
                shutil.rmtree(os.path.join(self.root, name))
                removed.append(f"{name}/data")
        return {"expired": expired, "removed_filesets": removed}

    def _stage_dirs(self, snap: int) -> tuple[str, str]:
        sdir = self._dir(snap)
        stage = sdir + ".staging"
        if os.path.exists(stage):
            shutil.rmtree(stage)
        os.makedirs(os.path.join(stage, "state"), exist_ok=True)
        return sdir, stage

    def _publish(self, sdir: str, stage: str, manifest: dict,
                 state: dict[str, bytes] | None) -> None:
        """Write state sidecars + manifest, then the atomic renames —
        manifest rename is the commit point (Iceberg metadata-pointer
        protocol)."""
        for name, blob in (state or {}).items():
            with open(os.path.join(stage, "state", name), "wb") as f:
                f.write(blob)
        if os.path.exists(sdir):
            shutil.rmtree(sdir)
        os.rename(stage, sdir)
        fd, tmp = tempfile.mkstemp(dir=sdir, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
        os.rename(tmp, os.path.join(sdir, "manifest.json"))

    def commit(
        self,
        df: DataFrame | None,
        mode: str = "overwrite",
        metrics: dict | None = None,
        state: dict[str, bytes] | None = None,
        lineage: list[dict] | None = None,
        finalize=None,
    ) -> int:
        """Atomically publish the next snapshot.

        ``mode='append'`` keeps the parent's data files and adds this
        commit's (Iceberg append); ``'overwrite'`` starts fresh.
        ``df=None`` publishes a metadata-only snapshot (state/metrics
        update, data carried forward).  Manifest rename is the commit
        point.

        ``finalize(staged_data_path) -> (extra_metrics, lineage)`` runs
        after the data files are staged but before the manifest rename —
        the Iceberg pattern of deriving manifest stats from the written
        files, so metrics/lineage are exact without re-materializing the
        input plan.
        """
        prev = self.latest()
        if prev is not None and df is not None and self.manifest(prev).get(
            "partition_col"
        ):
            # appending plain file sets to a partitioned table would mix
            # unmapped rows with validity-filtered scans (append), or
            # drop the partition map entirely (overwrite) — both unmask
            # stale rows on read.  Use commit_partition_overwrite.
            # (checked BEFORE staging so a rejected commit leaves no
            # orphan .staging dir)
            raise ValueError(
                "plain data commit on a partitioned table; use "
                "commit_partition_overwrite (or compact) instead"
            )
        snap = 0 if prev is None else prev + 1
        sdir, stage = self._stage_dirs(snap)

        rel = f"snap-{snap:05d}/data"
        data_paths: list[str] = []
        if mode == "append" and prev is not None:
            data_paths.extend(self.manifest(prev)["data_paths"])
        if df is not None:
            df.write.mode("overwrite").parquet(os.path.join(stage, "data"))
            data_paths.append(rel)
            if finalize is not None:
                extra, fin_lineage = finalize(os.path.join(stage, "data"))
                metrics = {**(metrics or {}), **extra}
                lineage = fin_lineage if fin_lineage is not None else lineage
        elif mode != "append" and prev is not None:
            data_paths.extend(self.manifest(prev)["data_paths"])

        parent_fs = (
            self.manifest(prev).get("fileset_schemas", {})
            if prev is not None else {}
        )
        fileset_schemas = {p: parent_fs[p] for p in data_paths if p in parent_fs}
        if df is not None:
            fileset_schemas[rel] = df.schema.simpleString()
        manifest = {
            "snapshot": snap,
            "parent": prev,
            "mode": mode,
            "data_paths": data_paths,
            "fileset_schemas": fileset_schemas,
            "metrics": metrics or {},
            "lineage": lineage or [],
            "state_files": sorted((state or {}).keys()),
        }
        if df is None:
            # metadata-only snapshot (any mode): the data files carry
            # forward unchanged, so the partition map (if any) still
            # describes them exactly and MUST carry too — dropping it
            # would unmask stale rows on the next read
            parent_m = self.manifest(prev) if prev is not None else {}
            for k in ("partition_col", "partitions"):
                if k in parent_m:
                    manifest[k] = parent_m[k]
        self._publish(sdir, stage, manifest, state)
        return snap

    def commit_partition_overwrite(
        self,
        updates: DataFrame,
        partition_col: str,
        touched_values: list | None = None,
        metrics: dict | None = None,
        state: dict[str, bytes] | None = None,
        lineage: list[dict] | None = None,
        finalize=None,
    ) -> int:
        """Dynamic-partition overwrite (Iceberg ``overwrite`` with
        ``replaceWhere`` on touched partitions): replace ONLY the
        partitions present in ``updates``; every other partition's data
        carries forward from the parent snapshot untouched.

        Layout follows Iceberg's manifest model, not a dir-per-partition
        tree: each commit writes ONE plain file set (same write cost as
        an unpartitioned commit — no partitionBy fan-out, no extra
        shuffle, no tasks×partitions small files) and the manifest maps
        each partition VALUE to the file set that last wrote it.
        :meth:`read` masks stale rows in older file sets by filtering
        each scan to its still-valid values, so overwrite semantics hold
        without rewriting untouched data.  Distinct file sets in a
        snapshot ≤ min(commits, partition values): every value points to
        exactly one file set, and file sets referenced by no value drop
        out of ``data_paths`` (Iceberg snapshot expiry can then collect
        them).

        ``touched_values``: the distinct partition values in ``updates``
        if the caller already knows them (the scheduler does — it
        computed the dequeue's periods); otherwise one tiny distinct
        job derives them.  The partition column must be non-null.

        This is the frontier's epoch-commit path: at 10^10 rows a full
        rewrite per epoch is a full-table write, while the rows an epoch
        actually transitions live in the few ``period`` partitions that
        were dequeued.
        """
        from pyspark.sql import functions as F

        prev = self.latest()
        parent_parts: dict[str, str] = {}
        if prev is not None:
            parent_m = self.manifest(prev)
            assert parent_m.get("partition_col") in (None, partition_col), (
                "partition column changed mid-table"
            )
            if "partitions" not in parent_m and parent_m["data_paths"]:
                # a plain-overwrite parent has no partition map: carrying
                # only the touched partitions forward would silently drop
                # every other row — refuse (before staging/writing
                # anything) instead of corrupting
                raise ValueError(
                    "commit_partition_overwrite on an unpartitioned parent "
                    "snapshot; rewrite the table once with a partitioned "
                    "full commit first"
                )
            parent_parts = dict(parent_m.get("partitions", {}))

        snap = 0 if prev is None else prev + 1
        sdir, stage = self._stage_dirs(snap)
        rel = f"snap-{snap:05d}/data"
        data_dir = os.path.join(stage, "data")

        updates.write.mode("overwrite").parquet(data_dir)
        if touched_values is None:
            touched_values = [
                r["v"]
                for r in updates.sparkSession.read.parquet(data_dir)
                .select(F.col(partition_col).cast("string").alias("v"))
                .distinct().collect()
            ]
        touched = {str(v): rel for v in touched_values}
        partitions = {**parent_parts, **touched}
        data_paths = sorted(set(partitions.values()))
        if not data_paths:
            # empty first commit (e.g. a zero-seed frontier): keep the
            # schema-carrying empty file set readable
            data_paths = [rel]

        if finalize is not None:
            extra, fin_lineage = finalize(data_dir)
            metrics = {**(metrics or {}), **extra}
            lineage = fin_lineage if fin_lineage is not None else lineage

        parent_fs = (
            self.manifest(prev).get("fileset_schemas", {})
            if prev is not None else {}
        )
        fileset_schemas = {p: parent_fs[p] for p in data_paths if p in parent_fs}
        if rel in data_paths:
            fileset_schemas[rel] = updates.schema.simpleString()
        manifest = {
            "snapshot": snap,
            "parent": prev,
            "mode": "partition_overwrite",
            "partition_col": partition_col,
            "partitions": partitions,
            "data_paths": data_paths,
            "fileset_schemas": fileset_schemas,
            "metrics": metrics or {},
            "lineage": lineage or [],
            "state_files": sorted((state or {}).keys()),
        }
        self._publish(sdir, stage, manifest, state)
        return snap


def upsert(
    table: SnapshotTable,
    spark: SparkSession,
    updates: DataFrame,
    key: str,
    **commit_kwargs,
) -> int:
    """MERGE-style upsert (SURVEY A9: the reference's check-then-insert
    profile write, old_scripts/fide-player-stats-en-US.py:211-231): keep
    existing rows whose key is not updated, add all update rows, commit
    as a new overwrite snapshot.  On real Iceberg this is MERGE INTO;
    the versioned-parquet backend realizes the same semantics as
    anti-join + union."""
    if table.latest() is None:
        return table.commit(updates, **commit_kwargs)
    current = table.read(spark)
    keep = current.join(updates.select(key), key, "left_anti")
    return table.commit(keep.unionByName(updates), **commit_kwargs)
