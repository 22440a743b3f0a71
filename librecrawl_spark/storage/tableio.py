"""Snapshot-versioned table layer — a thin Iceberg emulation.

The sandbox has no Iceberg jars (SURVEY.md §7 step 8), so this module
provides the same observable contract the engine needs from Iceberg:

- ``commit(name, df, mode)``: write parquet data files, then atomically
  publish a new snapshot manifest (`os.replace` of a JSON file) listing
  the table's current data files. Append = previous files + new files.
- ``read(spark, name, snapshot_id)``: time-travel read of exactly the
  files in that snapshot's manifest.
- ``checkpoint``/``load_checkpoint``: a crawl-level manifest pinning one
  snapshot per state table plus scalar loop state — the atomic
  multi-table commit the wave loop uses for resume (the engine analogue
  of the reference's resume_checkpoint blob, crawl_db.py:398-412, minus
  its 1000-row truncation, crawler.py:693-695 — we keep the full
  frontier, a documented improvement).

Swapping this for real Iceberg is config-only: the engine calls
commit/read, never paths.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql.types import StructType


class TableIO:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # --- paths ------------------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _snapdir(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_snapshots")

    def _manifest_path(self, name: str, snapshot_id: int) -> str:
        return os.path.join(self._snapdir(name), f"v{snapshot_id:06d}.json")

    # --- writes: data files first, then the manifest that lists them ------
    def _write_files(self, name: str, df) -> list[str]:
        """Write ``df`` into a fresh ``data/<id>`` directory of table
        ``name``; returns its parquet files, sorted."""
        files_dir = os.path.join(self._tdir(name), "data", uuid.uuid4().hex[:12])
        df.write.mode("overwrite").parquet(files_dir)
        return sorted(os.path.join(files_dir, f) for f in os.listdir(files_dir)
                      if f.endswith(".parquet"))

    @staticmethod
    def _publish(path: str, doc: dict, tmp_prefix: str) -> None:
        """Atomically replace ``path`` with ``doc`` as JSON: a reader sees
        either the old file or the whole new one, never a torn write."""
        tmp = os.path.join(os.path.dirname(path), f"{tmp_prefix}{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, path)

    # --- snapshots ----------------------------------------------------------
    def snapshots(self, name: str) -> list[int]:
        d = self._snapdir(name)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
        )

    def _manifest(self, name: str, snapshot_id: int) -> dict:
        with open(self._manifest_path(name, snapshot_id)) as fh:
            return json.load(fh)

    def commit(self, name: str, df, mode: str = "append") -> int:
        """Write df's rows as new parquet files and publish a snapshot.
        ``mode``: append (new files + previous snapshot's files) or
        overwrite (new files only)."""
        assert mode in ("append", "overwrite")
        os.makedirs(self._snapdir(name), exist_ok=True)
        new_files = self._write_files(name, df)
        snaps = self.snapshots(name)
        prev_files = self._manifest(name, snaps[-1])["files"] if (snaps and mode == "append") else []
        sid = (snaps[-1] + 1) if snaps else 0
        manifest = {
            "snapshot_id": sid,
            "parent": snaps[-1] if snaps else None,
            "mode": mode,
            "ts": time.time(),
            "files": prev_files + new_files,
            "schema": df.schema.json(),
        }
        self._publish(self._manifest_path(name, sid), manifest, ".tmp-")
        return sid

    def gc_to(self, name: str, snapshot_id: int | None) -> int:
        """Delete snapshot manifests NEWER than ``snapshot_id`` (all of
        them when None). Crash-recovery primitive: an append that
        committed after the last crawl-level checkpoint is an orphan —
        if left in place, the next append would chain from it
        (``commit`` parents on snaps[-1]) and the re-run wave's rows
        would be permanently duplicated. Removing the manifest is enough
        (reads and append parents are manifest-driven); the orphaned
        data files become unreferenced garbage."""
        removed = 0
        for sid in self.snapshots(name):
            if snapshot_id is None or sid > snapshot_id:
                os.remove(self._manifest_path(name, sid))
                removed += 1
        return removed

    def compact_small(self, spark, name: str,
                      small_bytes: int = 32 * 1024 * 1024,
                      target_files: int = 8) -> int:
        """Bin-packing compaction — Iceberg's rewrite_data_files with a
        size filter: rewrite ONLY data files under ``small_bytes`` (the
        per-wave small appends) into ``target_files`` packed files,
        leaving already-large files untouched. Publishes a snapshot
        whose file list = untouched large files + the packed rewrite.
        Cost per maintenance run is O(bytes in small files), NOT
        O(table) — the property that makes an every-K-waves cadence
        viable over a 10^5-wave crawl, where a full-table rewrite would
        be O(n^2) total. Row-identical by construction (same rows,
        different file layout); prior snapshots keep their file lists,
        so time travel and checkpoint pins are unaffected until
        expire_snapshots reclaims them. Returns the new snapshot id
        (or the current one unchanged when there is nothing to pack)."""
        snaps = self.snapshots(name)
        if not snaps:
            return -1
        m = self._manifest(name, snaps[-1])
        small = [p for p in m["files"]
                 if os.path.exists(p) and os.path.getsize(p) < small_bytes]
        if len(small) <= max(1, target_files):
            return snaps[-1]
        small_set = set(small)
        keep = [p for p in m["files"] if p not in small_set]
        new_files = self._write_files(
            name, spark.read.parquet(*small).coalesce(max(1, target_files)))
        sid = snaps[-1] + 1
        manifest = {
            "snapshot_id": sid,
            "parent": snaps[-1],
            "mode": "compact",
            "ts": time.time(),
            "files": sorted(keep) + new_files,
            "schema": m["schema"],
        }
        self._publish(self._manifest_path(name, sid), manifest, ".tmp-")
        return sid

    def expire_snapshots(self, name: str, keep_last: int = 1) -> tuple[int, int]:
        """Drop snapshot manifests older than the newest ``keep_last``
        and physically delete data files no remaining manifest
        references — Iceberg's expire_snapshots + orphan-file vacuum,
        the storage-reclaim half of the compact_small() lifecycle. A snapshot
        pinned by the crawl-level checkpoint (resume would read it) is
        always retained regardless of age. Returns
        (manifests_removed, data_files_deleted)."""
        snaps = self.snapshots(name)
        keep = set(snaps[-keep_last:]) if keep_last > 0 else set()
        ck = self.load_checkpoint()
        if ck and name in ck.get("tables", {}):
            keep.add(ck["tables"][name])
        removed = 0
        for sid in snaps:
            if sid not in keep:
                os.remove(self._manifest_path(name, sid))
                removed += 1
        # Compare realpaths: manifests store paths as spelled at commit
        # time, which may differ from this session's root spelling
        # (relative vs absolute, './', symlinks) — a raw string compare
        # would treat every live file as orphaned and delete it.
        referenced: set[str] = set()
        for sid in self.snapshots(name):
            referenced.update(os.path.realpath(p)
                              for p in self._manifest(name, sid)["files"])
        deleted = 0
        data_root = os.path.join(self._tdir(name), "data")
        for dirpath, _, files in os.walk(data_root):
            for f in files:
                p = os.path.join(dirpath, f)
                if f.endswith(".parquet") and os.path.realpath(p) not in referenced:
                    os.remove(p)
                    deleted += 1
        return removed, deleted

    def read(self, spark, name: str, snapshot_id: int | None = None):
        """Read the table at a snapshot (default: latest)."""
        snaps = self.snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"table {name} has no snapshots under {self.root}")
        sid = snaps[-1] if snapshot_id is None else snapshot_id
        m = self._manifest(name, sid)
        schema = StructType.fromJson(json.loads(m["schema"]))
        if not m["files"]:
            return spark.createDataFrame([], schema)
        # the manifest's schema spares Spark a schema-inference job
        return spark.read.schema(schema).parquet(*m["files"])

    # --- crawl-level checkpoint (atomic multi-table pin) -------------------
    def checkpoint(self, state: dict, table_snapshots: dict[str, int]) -> None:
        ck = {"state": state, "tables": table_snapshots, "ts": time.time()}
        self._publish(os.path.join(self.root, "checkpoint.json"), ck, ".ck-")

    def load_checkpoint(self) -> dict | None:
        p = os.path.join(self.root, "checkpoint.json")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)
