"""Snapshot-atomic output store with checkpoint resumability.

Emulates Iceberg's snapshot/manifest commit protocol over plain
parquet for the sandbox (no Iceberg runtime jar is available here);
the public surface — atomic snapshot commit, per-partition lineage +
throughput metrics recorded in the same commit, restart that neither
duplicates nor loses work — is exactly what the production deployment
gets from an Iceberg catalog (reference behavior being replaced: the
reference has no resumability at all — one process sweeps a directory,
pipline.py:893-924, and a crash restarts from zero).

Layout of an output root:

    <root>/data/bucket=<b>/*.parquet      work-unit partitions
    <root>/_snapshots/snap-<n>.json       manifest: committed buckets,
                                          per-bucket lineage + metrics,
                                          parent snapshot id
    <root>/_snapshots/CURRENT             atomic pointer (os.replace)

Commit protocol (per group of buckets):

1. write the group's partitions with dynamic partition overwrite —
   a re-attempted bucket REPLACES any orphan files a previous crashed
   attempt left in that partition;
2. write the group's metric rows to _metrics/ (parquet, append);
3. write snap-<n>.json (committed = parent.committed + group) to a
   temp name, fsync, then os.replace onto its final name and onto
   CURRENT — the rename is the only atomicity primitive needed, same
   as Iceberg's pointer swap.

A crash at any point before step 3 leaves CURRENT at the parent
snapshot: the orphan data/metric files are invisible to readers
(readers filter to committed buckets) and the buckets are re-run on
resume. A crash after step 3 means the group is durably committed and
resume skips it. Hence: no duplication, no loss.

Resume = anti-join of the bucket domain against the committed set —
at 10^12-document scale this is partition pruning on the Iceberg
bucket-partition spec (`system.bucket(N, doc_id)`), so skipped work
is pruned at the SCAN, never read.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.plans.extract import extract

CURRENT = "CURRENT"


class SnapshotStore:
    """Filesystem-backed snapshot log for one output table."""

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.metrics_dir = os.path.join(root, "_metrics")
        self.snap_dir = os.path.join(root, "_snapshots")
        os.makedirs(self.snap_dir, exist_ok=True)

    # -- snapshot log ------------------------------------------------------

    def current_snapshot(self) -> dict:
        ptr = os.path.join(self.snap_dir, CURRENT)
        if not os.path.exists(ptr):
            return {"snapshot_id": 0, "committed_buckets": [], "lineage_delta": []}
        with open(ptr) as f:
            return json.load(f)

    def snapshot(self, snapshot_id: int | None = None) -> dict:
        """A specific snapshot from the log (None = current) — the
        time-travel read surface (Iceberg: VERSION AS OF)."""
        if snapshot_id is None:
            return self.current_snapshot()
        path = os.path.join(self.snap_dir, f"snap-{snapshot_id:06d}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"no snapshot {snapshot_id} at {self.root}")
        with open(path) as f:
            return json.load(f)

    def committed_buckets(self) -> set[int]:
        return set(self.current_snapshot()["committed_buckets"])

    _METRIC_FIELDS = (
        ("snapshot_id", "int32"),
        ("bucket", "int32"),
        ("n_docs", "int64"),
        ("n_spans", "int64"),
        ("n_media_spans", "int64"),
        ("wall_s", "float64"),
        ("docs_per_sec", "float64"),
        ("attempt", "int32"),
    )

    def _write_metrics(self, snapshot_id: int, rows: list[dict]) -> None:
        """Commit-protocol step 2: the group's metric rows land in the
        _metrics parquet table (one file per snapshot, written BEFORE
        the pointer swap). Written tmp-then-rename like the pointer
        itself: readers filter orphan snapshots out by id, but they
        still OPEN every file in the directory, so a torn parquet from
        a crash mid-write would fail the whole metrics read — os.replace
        guarantees any file that exists is complete. A re-attempt of
        the same snapshot id simply replaces it."""
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        os.makedirs(self.metrics_dir, exist_ok=True)
        schema = pa.schema([(n, getattr(pa, t)()) for n, t in self._METRIC_FIELDS])
        table = pa.Table.from_pylist(rows, schema=schema)
        final = os.path.join(self.metrics_dir, f"snap-{snapshot_id:06d}.parquet")
        # dot-prefixed so a crash-orphaned tmp is invisible to both
        # Spark (HiddenFileFilter) and pyarrow datasets (ignore_prefixes)
        tmp = os.path.join(self.metrics_dir, f".snap-{snapshot_id:06d}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, final)

    def commit(self, new_buckets: list[int], lineage_rows: list[dict]) -> dict:
        """Atomically advance the snapshot pointer. os.replace is the
        same primitive Iceberg catalogs use for the pointer swap.

        The snapshot manifest records only THIS commit's lineage delta
        (the cumulative list would make manifest files grow O(n^2) over
        many commits); the full history lives in the _metrics parquet
        table, one file per snapshot."""
        parent = self.current_snapshot()
        snap = {
            "snapshot_id": parent["snapshot_id"] + 1,
            "parent_id": parent["snapshot_id"],
            "committed_buckets": sorted(set(parent["committed_buckets"]) | set(new_buckets)),
            "lineage_delta": lineage_rows,
        }
        self._write_metrics(snap["snapshot_id"], lineage_rows)
        final = os.path.join(self.snap_dir, f"snap-{snap['snapshot_id']:06d}.json")
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)
        tmp2 = os.path.join(self.snap_dir, CURRENT + ".tmp")
        with open(tmp2, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp2, os.path.join(self.snap_dir, CURRENT))
        return snap

    # -- readers -----------------------------------------------------------

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """Snapshot-isolated read: only buckets committed as of the
        requested snapshot are visible (None = current; an older id =
        time travel, provided the buckets written since were new ones —
        exactly Iceberg's VERSION AS OF over append-style snapshots).

        The isin-filter on the partition column prunes uncommitted
        partition directories at the scan (PartitionFilters), so
        orphans from crashed attempts are never deserialized."""
        committed = self.snapshot(snapshot_id)["committed_buckets"]
        if not committed:
            return spark.createDataFrame([], "doc_id string, order int, kind string, text string, media_ref string, bucket int")
        return spark.read.parquet(self.data_dir).where(F.col("bucket").isin(committed))

    def lineage(self, snapshot_id: int | None = None) -> list[dict]:
        """Full lineage history as of a snapshot (None = current):
        committed _metrics files, read driver-side (they are tiny)."""
        import pyarrow.parquet as pq  # noqa: PLC0415

        current = (
            self.current_snapshot()["snapshot_id"]
            if snapshot_id is None
            else snapshot_id
        )
        rows: list[dict] = []
        for sid in range(1, current + 1):
            path = os.path.join(self.metrics_dir, f"snap-{sid:06d}.parquet")
            if os.path.exists(path):
                rows.extend(pq.read_table(path).to_pylist())
        return rows

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        """The _metrics table: one row per committed bucket. Orphan
        metric files from crashed attempts (snapshot ids beyond
        CURRENT) are filtered out, mirroring the data-side read."""
        schema = (
            "snapshot_id int, bucket int, n_docs bigint, n_spans bigint, "
            "n_media_spans bigint, wall_s double, docs_per_sec double, attempt int"
        )
        if not os.path.isdir(self.metrics_dir):
            return spark.createDataFrame([], schema)
        current = self.current_snapshot()["snapshot_id"]
        return spark.read.parquet(self.metrics_dir).where(
            F.col("snapshot_id") <= current
        )


def run_extract_job(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    n_buckets: int = 32,
    group_size: int = 8,
    fail_after_groups: int | None = None,
    fail_point: str = "before_write",
) -> dict:
    """Resumable extraction: docs -> SnapshotStore at ``out_root``.

    Work is bucketed by ``pmod(xxhash64(doc_id), n_buckets)`` — the
    parquet stand-in for an Iceberg ``bucket(n_buckets, doc_id)``
    partition spec — and committed in groups of ``group_size`` buckets,
    each group one atomic snapshot. On restart only uncommitted
    buckets are processed, but every group re-scans the whole input:
    the bucket filter is on the computed ``pmod(xxhash64(doc_id), n)``
    column, which parquet cannot push down (the scan reads
    ``PushedFilters: []``). ROADMAP item 2 makes the commit unit
    something the scan can prune.

    ``fail_after_groups`` injects a crash for the resumability test;
    ``fail_point`` chooses whether it fires before the group's data
    write ('before_write') or between the write and the snapshot
    commit ('after_write' — leaves orphan data files, the hard case).
    Returns the final snapshot dict.
    """
    store = SnapshotStore(out_root)
    bucket_col = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    docs = docs.withColumn("bucket", bucket_col)

    done = store.committed_buckets()
    todo = [b for b in range(n_buckets) if b not in done]
    attempt = store.current_snapshot()["snapshot_id"] + 1

    groups = [todo[i : i + group_size] for i in range(0, len(todo), group_size)]
    snap = store.current_snapshot()
    for gi, group in enumerate(groups):
        crash_here = fail_after_groups is not None and gi >= fail_after_groups
        if crash_here and fail_point == "before_write":
            raise RuntimeError(f"injected failure before group {gi} (buckets {group})")
        t0 = time.time()
        part = docs.where(F.col("bucket").isin(group))
        extracted = extract(part.select("doc_id", "spans")).withColumn("bucket", bucket_col)
        # dynamic overwrite: a retried bucket replaces its orphans
        (
            extracted.repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(store.data_dir)
        )
        if crash_here:  # fail_point == 'after_write': data on disk, commit never happens
            raise RuntimeError(f"injected failure after write of group {gi} (buckets {group})")
        wall = time.time() - t0
        stats = (
            spark.read.parquet(store.data_dir)
            .where(F.col("bucket").isin(group))
            .groupBy("bucket")
            .agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count("*").alias("n_spans"),
                F.sum((F.col("kind") == "media").cast("long")).alias("n_media_spans"),
            )
            .collect()
        )
        by_bucket = {r["bucket"]: r for r in stats}
        total_docs = sum(r["n_docs"] for r in stats) or 1
        lineage = []
        for b in group:
            r = by_bucket.get(b)
            share = (r["n_docs"] / total_docs) if r else 0.0
            lineage.append(
                {
                    "snapshot_id": snap["snapshot_id"] + 1,
                    "bucket": b,
                    "n_docs": int(r["n_docs"]) if r else 0,
                    "n_spans": int(r["n_spans"]) if r else 0,
                    "n_media_spans": int(r["n_media_spans"]) if r else 0,
                    "wall_s": round(wall * share, 3),
                    "docs_per_sec": round((r["n_docs"] / wall) if r else 0.0, 3),
                    "attempt": attempt,
                }
            )
        snap = store.commit(group, lineage)
    return snap
