"""Snapshot-table state layer — the sandbox stand-in for Iceberg.

The north rule targets Iceberg tables with atomic commits, snapshot
history and resume-from-snapshot. The crawl keeps three: frontier
(blocked pages ride in its rows), documents and fetch_log; the seen set
and the AIMD ledger are derived from fetch_log. This container has no
Iceberg runtime jar, so the same contract is provided over parquet + a
JSON manifest:

* a table is a directory of immutable parquet data files;
* a **snapshot** is a manifest listing the data files visible at commit
  time plus lineage metadata (round, parent snapshot, per-commit row
  counts = per-partition lineage/metrics from the north rule);
* commits are atomic via write-to-temp + ``os.replace`` of the manifest
  pointer — readers always see a complete snapshot;
* resume = read the latest (or any) manifest.

On a real cluster the class maps 1:1 onto Iceberg:
append→``writeTo(...).append()``, snapshot→Iceberg snapshot id,
read_snapshot→``VERSION AS OF``; nothing else in the engine changes.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class SnapshotTable:
    root: str
    name: str
    schema: StructType
    _spark: SparkSession = field(repr=False, default=None)

    @property
    def dir(self) -> str:
        return os.path.join(self.root, self.name)

    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.dir, "_manifests")

    @property
    def _head_path(self) -> str:
        return os.path.join(self.dir, "_HEAD")

    def init(self, spark: SparkSession) -> "SnapshotTable":
        self._spark = spark
        os.makedirs(self._manifest_dir, exist_ok=True)
        return self

    # -- snapshot bookkeeping -------------------------------------------------

    def _read_head(self) -> dict | None:
        try:
            with open(self._head_path) as f:
                sid = f.read().strip()
            if not sid:
                return None
            with open(os.path.join(self._manifest_dir, sid + ".json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def current_snapshot(self) -> dict | None:
        return self._read_head()

    def snapshots(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self._manifest_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self._manifest_dir, fn)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["sequence"])

    # -- commit ---------------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        lineage: dict | None = None,
    ) -> dict:
        """Atomically append (or replace with) ``df``.

        Writes data files under a fresh uuid subdir, then publishes a new
        manifest = parent files (append) ∪ new files, with row-count
        metrics captured per commit (per-partition lineage per the north
        rule — at parquet level each data file IS a partition's output).
        """
        head = self._read_head()
        commit_id = uuid.uuid4().hex[:12]
        data_dir = os.path.join(self.dir, f"data-{commit_id}")
        df.write.mode("errorifexists").parquet(data_dir)
        new_files = [
            os.path.join(data_dir, fn)
            for fn in os.listdir(data_dir)
            if fn.endswith(".parquet")
        ]
        files = list(new_files)
        if mode == "append" and head is not None:
            files = head["files"] + files
        # per-partition lineage metrics (north rule): row count per data
        # file straight from the parquet footers — no Spark job needed
        import pyarrow.parquet as pq

        file_rows = {
            os.path.basename(f): pq.ParquetFile(f).metadata.num_rows
            for f in new_files
        }
        new_rows = sum(file_rows.values())
        total_rows = new_rows
        if mode == "append" and head is not None:
            total_rows += head.get("total_rows", 0)
        manifest = {
            "snapshot_id": commit_id,
            "sequence": (head["sequence"] + 1) if head else 1,
            "parent": head["snapshot_id"] if head else None,
            "ts": time.time(),
            "mode": mode,
            "files": files,
            "new_files": new_files,
            "file_rows": file_rows,
            "new_rows": new_rows,
            "total_rows": total_rows,
            "lineage": lineage or {},
        }
        tmp = os.path.join(self._manifest_dir, f".{commit_id}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self._manifest_dir, commit_id + ".json"))
        head_tmp = self._head_path + ".tmp"
        with open(head_tmp, "w") as f:
            f.write(commit_id)
        os.replace(head_tmp, self._head_path)
        return manifest

    # -- maintenance ------------------------------------------------------

    def compact(self, target_files: int = 8, lineage: dict | None = None) -> dict | None:
        """Iceberg ``rewrite_data_files`` analogue: when the head snapshot
        references more than ``target_files`` data files, rewrite the
        table contents into ``target_files`` files and publish as a
        REPLACE snapshot (atomic manifest swap — readers never see a
        partial state; old snapshots stay resumable until
        ``expire_snapshots`` reclaims them).

        Why it matters at 10^10: append-mode tables (fetch_log, documents)
        gain files every round; after 10^3 rounds every read
        pays a 10^3-file listing and the manifest grows without bound.
        Periodic compaction keeps reads O(target_files)."""
        head = self._read_head()
        if head is None or len(head["files"]) <= target_files:
            return None
        df = self.read().coalesce(target_files)
        return self.commit(
            df, mode="replace", lineage={**(lineage or {}), "op": "compact"}
        )

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Iceberg-style ``expireSnapshots``: drop all but the newest
        ``keep_last`` manifests and delete data files no surviving
        snapshot references. Returns the number of files removed. The
        head snapshot is always kept (resume safety)."""
        import shutil

        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return 0
        keep = snaps[-keep_last:]
        drop = snaps[:-keep_last]
        live = {f for m in keep for f in m["files"]}
        removed = 0
        for m in drop:
            for f in m["files"]:
                if f not in live and os.path.exists(f):
                    os.remove(f)
                    removed += 1
            os.remove(
                os.path.join(self._manifest_dir, m["snapshot_id"] + ".json")
            )
        # prune now-empty data dirs
        for d in os.listdir(self.dir):
            full = os.path.join(self.dir, d)
            if d.startswith("data-") and os.path.isdir(full) and not os.listdir(full):
                shutil.rmtree(full)
        return removed

    # -- read -----------------------------------------------------------------

    def read(self, snapshot_id: str | None = None) -> DataFrame:
        """DataFrame over the table at a snapshot (default: head). Empty
        table → empty DataFrame with the declared schema."""
        if snapshot_id is None:
            m = self._read_head()
        else:
            with open(os.path.join(self._manifest_dir, snapshot_id + ".json")) as f:
                m = json.load(f)
        if m is None or not m["files"]:
            return self._spark.createDataFrame([], self.schema)
        return self._spark.read.schema(self.schema).parquet(*m["files"])
