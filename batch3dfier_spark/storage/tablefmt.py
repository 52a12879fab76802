"""Iceberg-style table format over parquet: an append-only snapshot log
of lineage-bearing commits.

The reference's restart-relevant state is per-tile YAML configs plus a
completed/skipped bookkeeping dict (config.py:73-84, batch3dfierapp.py:
242-245); a re-run reprocesses everything.  Our engine upgrades that to
checkpointed resumability (north_rule): every per-tile work unit commits
atomically — data files plus ONE lineage row per tile (tile_gid,
partition_id, rows_in, rows_out, wall_ms, status, work_order) — into a
snapshot log, and a new run resumes by anti-joining the work list
against completed tiles.  The reference union-loads its per-tile
results into one table (bag3d.py:56-137); `read` is that table.

Layout (no Iceberg jar in this sandbox; same commit semantics, same
manifest-list indirection real Iceberg uses so metadata cost is
O(new files) per commit, NOT O(table history)):

    root/
      data/part-<uuid>.parquet                 # task-written data files:
                                               #   one per dispatch task,
                                               #   one row group per tile,
                                               #   row-level tile_gid
      metadata/
        lineage-<uuid>/part-*.parquet          # one commit's lineage rows,
                                               #   each naming its data
                                               #   files in `paths`
        manifest-000001-<uuid>.json            # IMMUTABLE: {snapshot_id,
                                               #   lineage_parquet}
        snapshot-000001.json                   # {snapshot_id, parent,
                                               #   manifest} — O(1)
        CURRENT                                # name of current snapshot

Commit = write one manifest listing ONLY this commit's staged lineage
parts, create an O(1) snapshot pointer referencing it EXCLUSIVELY (a
racing writer that picked the same id raises FileExistsError), then
atomically `os.replace` the CURRENT pointer.  Readers walk the parent
chain from CURRENT and concatenate the lineage parts as ONE Arrow
table, each part's rows stamped with its commit's snapshot_id; the
table's data files are the `paths` those rows name.  Parts and
manifests are immutable, so the per-instance caches never invalidate.
Half-written runs stay invisible: nothing references an uncommitted
manifest.  Total metadata bytes across n commits grow LINEARLY in rows
written (each lineage row is written exactly once, in exactly one
part).  Nothing rewrites or retires a commit; `vacuum` is the one
maintenance call, the crash recovery that reclaims what no commit
references.  On a real cluster the same protocol runs against an
object store / a real Iceberg catalog — the interface is kept thin on
purpose (SURVEY.md §7.0).
"""

from __future__ import annotations

import json
import os
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

__all__ = ["IcebergishTable", "task_data_path"]

# the one lineage schema every read returns, also when empty;
# work_order is the S5 per-tile work order the reference renders as a
# YAML config (config.py:115-178), as JSON
_LINEAGE = pa.schema([
    ("tile_gid", pa.int64()), ("partition_id", pa.int64()),
    ("rows_in", pa.int64()), ("rows_out", pa.int64()),
    ("wall_ms", pa.float64()), ("status", pa.string()),
    ("snapshot_id", pa.int64()), ("work_order", pa.string()),
])


def task_data_path(root: str) -> str:
    """New ROOT-RELATIVE `data/part-<uuid>.parquet` path for one task's
    data file, its directory created under `root` (table-free: workers
    call it)."""
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    return os.path.join("data", f"part-{uuid.uuid4().hex}.parquet")


def _flat_paths(t: pa.Table) -> list[str]:
    """The root-relative data files a lineage part's `paths` column
    names."""
    return pc.list_flatten(t["paths"]).to_numpy(zero_copy_only=False).tolist()


class IcebergishTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.meta_dir = os.path.join(root, "metadata")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)
        # Immutable-object caches: manifests, snapshot pointers, and
        # staged-lineage parquet parts never change once written, so
        # these only ever grow.
        self._manifest_cache: dict[str, dict] = {}
        self._snap_cache: dict[int, dict] = {}
        self._part_cache: dict[str, pa.Table] = {}

    def _abs(self, p: str) -> str:
        """Paths in lineage and manifests are ROOT-RELATIVE, so a table
        directory can be moved and still read."""
        return os.path.join(self.root, p)

    # -- snapshot chain -----------------------------------------------------

    def _current_sid(self) -> int | None:
        """The one CURRENT reader: id of the current snapshot, or None."""
        p = os.path.join(self.meta_dir, "CURRENT")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            name = f.read().strip()
        return int(name[len("snapshot-"):-len(".json")]) if name else None

    def _raw_snapshot(self, snapshot_id: int) -> dict:
        """On-disk snapshot pointer {snapshot_id, parent, manifest}."""
        snap = self._snap_cache.get(snapshot_id)
        if snap is None:
            with open(os.path.join(self.meta_dir,
                                   f"snapshot-{snapshot_id:06d}.json")) as f:
                snap = self._snap_cache[snapshot_id] = json.load(f)
        return snap

    def _manifest(self, name: str) -> dict:
        m = self._manifest_cache.get(name)
        if m is None:
            with open(os.path.join(self.meta_dir, name)) as f:
                m = self._manifest_cache[name] = json.load(f)
        return m

    def _part_table(self, rel_path: str) -> pa.Table:
        """One lineage parquet part (immutable -> cached)."""
        t = self._part_cache.get(rel_path)
        if t is None:
            t = self._part_cache[rel_path] = pq.read_table(self._abs(rel_path))
        return t

    def _resolve_chain(self) -> tuple[list[str], pa.Table]:
        """The current snapshot's (data files, lineage table): walk the
        parent chain from CURRENT and concatenate the lineage parts
        oldest-first, each stamped with its commit's snapshot_id; the
        files are the `paths` the rows name.  O(total history) on first
        touch, O(1-ish) after via the immutable-manifest/part caches."""
        commits: list[tuple[int, list[pa.Table]]] = []
        sid = self._current_sid()
        while sid is not None:
            snap = self._raw_snapshot(sid)
            if snap["manifest"] is not None:
                commits.append((sid, [
                    self._part_table(part["path"]) for part in
                    self._manifest(snap["manifest"])["lineage_parquet"]]))
            sid = snap["parent"]
        files: list[str] = []
        lineage: list[pa.Table] = [_LINEAGE.empty_table()]
        for sid, parts in reversed(commits):  # oldest -> newest
            for t in parts:
                files.extend(_flat_paths(t))
                t = t.append_column("snapshot_id", pa.repeat(
                    pa.scalar(sid, pa.int64()), t.num_rows))
                lineage.append(t.select(_LINEAGE.names).cast(_LINEAGE))
        # several tiles' lineage rows name one task's file: each once
        return ([self._abs(f) for f in dict.fromkeys(files)],
                pa.concat_tables(lineage))

    def snapshots(self) -> list[int]:
        """All snapshot pointer ids on disk, ascending (the history log)."""
        out = []
        for n in os.listdir(self.meta_dir):
            if n.startswith("snapshot-") and n.endswith(".json"):
                out.append(int(n[len("snapshot-"):-len(".json")]))
        return sorted(out)

    def _write_atomic(self, name: str, payload) -> None:
        tmp = os.path.join(self.meta_dir, f".{name}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, os.path.join(self.meta_dir, name))

    def _next_sid(self) -> tuple[int, int | None]:
        parent = self._current_sid()
        return (parent or 0) + 1, parent

    def stage_dir(self) -> str:
        """A fresh directory under metadata/ for a DISTRIBUTED lineage
        write (Spark writes parquet parts straight into it — executor-
        side, nothing through the driver).  Invisible until
        commit_staged references it from a manifest."""
        return os.path.join(self.meta_dir, f"lineage-{uuid.uuid4().hex}")

    def commit_staged(self, staged_dir: str) -> int:
        """Atomic commit of a staged-lineage directory (the de-drivered
        dispatch path): lineage rows — including each tile's data-file
        paths in a `paths` array column — were written as parquet parts
        by the executors.  The driver reads only the parquet FOOTERS
        (to drop empty parts), writes a manifest listing the parts, then
        an O(1) snapshot pointer, created exclusively — a writer that
        raced another for the snapshot id raises FileExistsError before
        CURRENT moves — and atomically swaps CURRENT.  Driver I/O is
        O(parts) (~shuffle partitions), not O(tiles).  Each commit's
        part is the only metadata that grows with its tile count."""
        sid, parent = self._next_sid()
        parts = []
        for n in sorted(os.listdir(staged_dir)):
            p = os.path.join(staged_dir, n)
            if n.endswith(".parquet") and pq.ParquetFile(p).metadata.num_rows:
                parts.append({"path": os.path.relpath(p, self.root)})
        manifest_name = None
        if parts:
            manifest_name = f"manifest-{sid:06d}-{uuid.uuid4().hex}.json"
            self._write_atomic(
                manifest_name, {"snapshot_id": sid, "lineage_parquet": parts})
        snap_name = f"snapshot-{sid:06d}.json"
        tmp = os.path.join(self.meta_dir, f".{snap_name}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": sid, "parent": parent,
                       "manifest": manifest_name}, f)
        try:
            os.link(tmp, os.path.join(self.meta_dir, snap_name))
        except FileExistsError as e:
            raise FileExistsError(
                f"{snap_name} already exists: another writer committed "
                "this snapshot id, or an interrupted commit left its "
                "pointer; run vacuum() with no writer in flight") from e
        finally:
            os.remove(tmp)
        ctmp = os.path.join(self.meta_dir, f".CURRENT.{uuid.uuid4().hex}.tmp")
        with open(ctmp, "w") as f:
            f.write(snap_name)
        os.replace(ctmp, os.path.join(self.meta_dir, "CURRENT"))
        return sid

    # -- reads ----------------------------------------------------------------

    def files(self) -> list[str]:
        """Committed data files, each once."""
        return self._resolve_chain()[0]

    def lineage(self) -> pd.DataFrame:
        """Cumulative lineage, one row per committed tile, in the one
        lineage schema (fixed dtypes, also when empty)."""
        return self._resolve_chain()[1].to_pandas()

    def completed_tiles(self) -> set[int]:
        """Tiles the table holds a lineage row for: every status
        run_tiles commits (ok, empty, skipped) is done."""
        return set(self._resolve_chain()[1]["tile_gid"].to_numpy().tolist())

    def read(self, spark):
        """The committed table as a DataFrame (reads only committed
        files — uncommitted task output is invisible).  Every data file
        carries a row-level `tile_gid` column, so a row names its tile
        although a file holds several tiles."""
        fs = self.files()
        if not fs:
            raise ValueError("empty table (no committed snapshot)")
        return spark.read.option("mergeSchema", "true").parquet(*fs)

    # -- crash recovery -------------------------------------------------------

    def vacuum(self) -> dict:
        """Reclaim everything NO committed snapshot references: data
        files and staged-lineage parts and dirs from runs that died
        between staging and commit (otherwise invisible but unbounded
        garbage), manifests written by failed commits, pointers newer
        than CURRENT (a commit that died before its CURRENT swap; the
        next commit would collide with them), and stale .tmp files.
        References are the manifests' lineage parts and the data files
        their rows name.  Run it only while no writer is in flight: a
        concurrently staged-but-uncommitted run looks like an orphan
        (the same caveat as Iceberg remove_orphan_files, which uses a
        retention interval for the purpose).  Returns removal counts."""
        removed = {"snapshots": 0, "data_files": 0, "lineage_parts": 0,
                   "manifests": 0, "tmp": 0}
        current = self._current_sid() or 0
        for sid in self.snapshots():
            if sid > current:
                os.remove(os.path.join(self.meta_dir, f"snapshot-{sid:06d}.json"))
                self._snap_cache.pop(sid, None)
                removed["snapshots"] += 1
        ref_files: set[str] = set()
        ref_manifests: set[str] = set()
        ref_parts: set[str] = set()
        for sid in self.snapshots():
            name = self._raw_snapshot(sid)["manifest"]
            if name is None:
                continue
            ref_manifests.add(name)
            for part in self._manifest(name)["lineage_parquet"]:
                ref_parts.add(os.path.abspath(self._abs(part["path"])))
                ref_files.update(
                    os.path.abspath(self._abs(p))
                    for p in _flat_paths(self._part_table(part["path"])))
        for n in os.listdir(self.data_dir):
            p = os.path.join(self.data_dir, n)
            if os.path.abspath(p) not in ref_files:
                os.remove(p)
                removed["data_files"] += 1
        for n in list(os.listdir(self.meta_dir)):
            p = os.path.join(self.meta_dir, n)
            if (n.startswith("manifest-") and n.endswith(".json")
                    and n not in ref_manifests):
                os.remove(p)
                self._manifest_cache.pop(n, None)
                removed["manifests"] += 1
            elif n.startswith(".") and n.endswith(".tmp"):
                os.remove(p)
                removed["tmp"] += 1
            elif os.path.isdir(p) and n.startswith("lineage-"):
                for rr, _dd, ff in os.walk(p, topdown=False):
                    for fn in ff:
                        fp = os.path.join(rr, fn)
                        if os.path.abspath(fp) not in ref_parts:
                            os.remove(fp)
                            removed["lineage_parts"] += 1
                    if not os.listdir(rr):
                        os.rmdir(rr)
        return removed
