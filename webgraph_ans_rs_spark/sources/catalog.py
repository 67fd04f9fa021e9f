"""Versioned table catalog — the Iceberg-shaped storage layer, on parquet.

The north star stores tables in Iceberg; this sandbox has no Iceberg
runtime jars, so this module provides the same *protocol* on plain
parquet: every write is an immutable snapshot directory plus a manifest
commit, reads resolve the latest (or any historical) snapshot, and commits
are atomic via rename of the manifest pointer. Swap-in note: with Iceberg
available, `VersionedTable` collapses to `df.writeTo(name).createOrReplace()`
and `spark.read.option("snapshot-id", …)` — call sites don't change shape.

Reference analogue: the Prelude + .pointers + .states triple is a
self-describing, versioned on-disk artifact (SURVEY.md §1.4); here the
manifest carries the same role (schema, row count, lineage of the commit).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class VersionedTable:
    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        self.dir = os.path.join(root, name)
        os.makedirs(self.dir, exist_ok=True)

    # -- write -------------------------------------------------------------
    def commit(self, df: DataFrame, properties: dict | None = None) -> int:
        """Write a new immutable snapshot; returns its id."""
        sid, data_dir = self._land(df)
        rows = self.spark.read.parquet(data_dir).count()
        return self._write_manifest(sid, data_dir, df.schema, rows, properties)

    def _land(self, df: DataFrame, partition_col: str | None = None) -> tuple[int, str]:
        """Write ``df`` (partitioned by ``partition_col`` if given) into a
        unique temp dir and rename it to the next snap-NNNNNN dir; returns
        (snapshot id, data dir).

        Crash-safety: the rename happens just before the manifest commit,
        and ``_next_id`` counts orphaned snap dirs (data renamed, manifest
        never written) as taken — a crash can orphan at most one uuid-temp
        or snap dir, never wedge future commits by id reuse.
        """
        writer = df.write.mode("errorifexists")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        tmp_data = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}")
        try:
            writer.parquet(tmp_data)
            sid = self._next_id()
            data_dir = os.path.join(self.dir, f"snap-{sid:06d}")
            os.rename(tmp_data, data_dir)
        except BaseException:
            # a failed write must not accumulate orphaned .tmp dirs forever
            shutil.rmtree(tmp_data, ignore_errors=True)
            raise
        return sid, data_dir

    # -- read --------------------------------------------------------------
    def snapshots(self) -> list[int]:
        out = []
        for name in os.listdir(self.dir):
            if name.startswith("manifest-") and name.endswith(".json"):
                out.append(int(name[len("manifest-") : -len(".json")]))
        return sorted(out)

    def manifest(self, snapshot_id: int | None = None) -> dict:
        sid = snapshot_id if snapshot_id is not None else self.snapshots()[-1]
        with open(os.path.join(self.dir, f"manifest-{sid:06d}.json")) as f:
            return json.load(f)

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Latest snapshot by default; pass an id for time travel."""
        return self.spark.read.parquet(self.manifest(snapshot_id)["data_dir"])

    def _next_id(self) -> int:
        """One past the max id seen in EITHER manifests or snap-* data dirs
        (orphaned data dirs from a crashed commit must not be reused)."""
        taken = set(self.snapshots())
        for name in os.listdir(self.dir):
            if name.startswith("snap-"):
                try:
                    taken.add(int(name[len("snap-") :]))
                except ValueError:
                    continue
        return (max(taken) + 1) if taken else 1

    # -- partitioned / copy-on-write commits --------------------------------
    #
    # Iceberg's bucket(B, src) partition transform + REPLACE PARTITIONS,
    # re-expressed on plain parquet: data lands in bucket=K leaf dirs, the
    # manifest maps partition value → leaf dir, and an incremental commit
    # writes ONLY the touched buckets while inheriting every untouched
    # leaf from the base snapshot (file-level snapshot sharing — the point
    # of Iceberg's COW model: a 0.1% recrawl delta over a 100 TB adjacency
    # rewrites 0.1% of the files, not the table). `expire_snapshots` is
    # reference-counted accordingly.

    def commit_partitioned(
        self, df: DataFrame, partition_col: str = "bucket",
        properties: dict | None = None,
    ) -> int:
        """Full snapshot in bucket-partitioned layout. ``df`` must carry an
        integer ``partition_col``; rows land under ``bucket=K/`` leaves."""
        sid, data_dir = self._land(df, partition_col)
        parts = self._leaf_dirs(data_dir, partition_col)
        rows = self.spark.read.parquet(data_dir).count() if parts else 0
        return self._write_manifest(
            sid, data_dir, df.schema, rows, properties,
            extra={"partition_col": partition_col, "partitions": parts},
        )

    def commit_replace_partitions(
        self,
        df_partial: DataFrame,
        replaced: list[int],
        partition_col: str = "bucket",
        base_snapshot: int | None = None,
        properties: dict | None = None,
    ) -> int:
        """Copy-on-write commit: ``df_partial`` holds the complete new
        contents of the ``replaced`` partition values; every other
        partition is inherited from ``base_snapshot`` (default: latest)
        WITHOUT copying bytes. Iceberg `REPLACE PARTITIONS` semantics."""
        base = self.manifest(base_snapshot)
        if "partitions" not in base:
            raise ValueError("base snapshot is not partitioned")
        if base.get("partition_col") != partition_col:
            raise ValueError("partition_col mismatch with base snapshot")
        sid, data_dir = self._land(df_partial, partition_col)
        new_parts = self._leaf_dirs(data_dir, partition_col)
        stray = set(new_parts) - {str(k) for k in replaced}
        if stray:
            raise ValueError(
                f"df_partial contains partitions not in `replaced`: {sorted(stray)}"
            )
        parts = dict(base["partitions"])
        for k in replaced:  # a replaced bucket may legitimately become empty
            parts.pop(str(k), None)
        parts.update(new_parts)
        rows = base["rows"]  # recount only what changed, ONE job per side
        old_dirs = [
            base["partitions"][str(k)]
            for k in replaced
            if str(k) in base["partitions"]
        ]
        if old_dirs:
            rows -= self.spark.read.parquet(*old_dirs).count()
        if new_parts:
            rows += self.spark.read.parquet(data_dir).count()
        # COW snapshots inherit base properties (num_buckets etc.) so a
        # chain of merges never loses the table's layout parameters
        props = {**base.get("properties", {}), **(properties or {})}
        return self._write_manifest(
            sid, data_dir, df_partial.schema, rows, props,
            extra={
                "partition_col": partition_col,
                "partitions": parts,
                "base_snapshot": base["snapshot_id"],
                "replaced": sorted(int(k) for k in replaced),
            },
        )

    def read_partitioned(self, snapshot_id: int | None = None) -> DataFrame:
        """Union of the snapshot's leaf dirs with the partition column
        restored. Leafs inherited across snapshots read from their
        original files — zero-copy time travel."""
        from functools import reduce

        from pyspark.sql import functions as F

        m = self.manifest(snapshot_id)
        col = m["partition_col"]
        parts = [
            self.spark.read.parquet(path).withColumn(col, F.lit(int(k)))
            for k, path in sorted(m["partitions"].items(), key=lambda kv: int(kv[0]))
        ]
        if not parts:
            raise ValueError("snapshot has no partitions")
        return reduce(lambda a, b: a.unionByName(b), parts)

    def read_partition(self, value: int, snapshot_id: int | None = None) -> DataFrame:
        """One bucket, pruned by construction: only that leaf's files are
        ever listed or scanned — the partition-pruning point-lookup path."""
        from pyspark.sql import functions as F

        m = self.manifest(snapshot_id)
        path = m["partitions"].get(str(value))
        if path is None:
            if not m["partitions"]:
                raise ValueError(
                    f"snapshot {m['snapshot_id']} has no partitions — "
                    "was it committed from an empty DataFrame?"
                )
            return self.spark.read.parquet(
                next(iter(m["partitions"].values()))
            ).limit(0).withColumn(m["partition_col"], F.lit(int(value)))
        return self.spark.read.parquet(path).withColumn(
            m["partition_col"], F.lit(int(value))
        )

    def _leaf_dirs(self, data_dir: str, partition_col: str) -> dict[str, str]:
        prefix = f"{partition_col}="
        out = {}
        for name in os.listdir(data_dir):
            if name.startswith(prefix):
                key = name[len(prefix):]
                try:
                    int(key)  # reject at COMMIT time, not first read
                except ValueError:
                    raise ValueError(
                        f"non-integer partition value {key!r} (null "
                        f"{partition_col}? rows must carry a non-null int "
                        "bucket — __HIVE_DEFAULT_PARTITION__ is not allowed)"
                    ) from None
                out[key] = os.path.join(data_dir, name)
        return out

    def _write_manifest(
        self, sid: int, data_dir: str, schema, rows: int,
        properties: dict | None, extra: dict | None = None,
    ) -> int:
        manifest = {
            "snapshot_id": sid,
            "data_dir": data_dir,
            "schema": schema.jsonValue(),
            "rows": rows,
            "committed_at": time.time(),
            "properties": properties or {},
        }
        manifest.update(extra or {})
        tmp = os.path.join(self.dir, f".manifest-{sid:06d}.tmp")
        final = os.path.join(self.dir, f"manifest-{sid:06d}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, final)  # atomic commit point
        return sid

    # -- maintenance -------------------------------------------------------
    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Delete all but the newest ``keep_last`` snapshots, REFERENCE
        COUNTED at LEAF granularity: only data dirs that belonged to an
        expired manifest are candidates (an in-flight commit's just-renamed
        snap dir — data present, manifest not yet written — is never
        touched), a dir whose leaves are still inherited by a kept COW
        snapshot keeps exactly those leaves, and its superseded leaves are
        reclaimed individually (the Iceberg file-level COW model: daily
        merges must shrink dead buckets, not pin whole old snapshots).
        Manifests are removed first, so a crash mid-expiry leaves orphaned
        data (tolerated by ``_next_id``), never a manifest pointing at
        deleted data. Returns the expired ids."""
        sids = self.snapshots()
        expired = sids[:-keep_last] if keep_last > 0 else sids
        kept = [s for s in sids if s not in expired]
        referenced: set[str] = set()
        for sid in kept:
            m = self.manifest(sid)
            referenced.add(m["data_dir"])
            for path in (m.get("partitions") or {}).values():
                referenced.add(path)
        candidates = {self.manifest(sid)["data_dir"] for sid in expired}
        for sid in expired:
            os.remove(os.path.join(self.dir, f"manifest-{sid:06d}.json"))
        for root in candidates:
            if root in referenced or not os.path.isdir(root):
                continue
            live = [r for r in referenced if r.startswith(root + os.sep)]
            if not live:
                shutil.rmtree(root, ignore_errors=True)
                continue
            for name in os.listdir(root):  # partial: drop dead leaves only
                child = os.path.join(root, name)
                if os.path.isdir(child) and child not in referenced:
                    shutil.rmtree(child, ignore_errors=True)
        return expired
