"""Iceberg-style table format over parquet: snapshots, manifests, lineage.

The reference's restart-relevant state is per-tile YAML configs plus a
completed/skipped bookkeeping dict (config.py:73-84, batch3dfierapp.py:
242-245); a re-run reprocesses everything.  Our engine upgrades that to
checkpointed resumability (north_rule): every per-tile work unit commits
atomically — data files plus ONE lineage row per tile (tile_gid,
partition_id, rows_in, rows_out, wall_ms, status, work_order) — into a
snapshot log, and a new run resumes by anti-joining the work list
against completed tiles.

Layout (no Iceberg jar in this sandbox; same commit semantics, same
manifest-list indirection real Iceberg uses so metadata cost is
O(new files) per commit, NOT O(table history)):

    root/
      data/part-<uuid>.parquet                 # task-written data files:
                                               #   one per dispatch task,
                                               #   one row group per tile,
                                               #   row-level tile_gid
      data/compact-<uuid>/part-*.parquet       # compact() rewrites
      metadata/
        lineage-<uuid>/part-*.parquet          # one commit's lineage rows,
                                               #   each naming its data
                                               #   files in `paths`
        manifest-000001-<uuid>.json            # IMMUTABLE: {snapshot_id,
                                               #   lineage_parquet (parts +
                                               #   footer tile stats),
                                               #   data_files, base}
        snapshot-000001.json                   # {snapshot_id, parent,
                                               #   manifest, stats} — O(1)
        CURRENT                                # name of current snapshot

Commit = write one manifest listing ONLY this commit's staged lineage
parts, create an O(1) snapshot pointer referencing it EXCLUSIVELY (a
racing writer that picked the same id raises FileExistsError), then
atomically `os.replace` the CURRENT pointer.  Readers resolve a snapshot
by walking the parent chain and concatenating the lineage parts as ONE
Arrow table (parts and manifests are immutable, so the per-instance
caches never invalidate).  Half-written runs stay invisible: nothing
references an uncommitted manifest.  Total metadata bytes across n
commits grow LINEARLY in rows written (each lineage row is written
exactly once, in exactly one part).  Snapshot expiry and export both
write self-contained base manifests: the data files in `data_files`,
the attributed lineage as one part.  On a real cluster
the same protocol runs against an object store / a real Iceberg catalog —
the interface is kept thin on purpose (SURVEY.md §7.0).
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

# the one lineage schema every read returns, whatever part it came from
# (staged by run_tiles, or a base part written by expiry/export);
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


def _range_stats(entries: list[dict]) -> dict:
    """Fold footer {n_rows, min_tile, max_tile} entries into
    commit-level stats."""
    mins = [e["min_tile"] for e in entries if e["min_tile"] is not None]
    maxs = [e["max_tile"] for e in entries if e["max_tile"] is not None]
    return {"n_rows": sum(e["n_rows"] for e in entries),
            "min_tile": min(mins, default=None),
            "max_tile": max(maxs, default=None)}


def _flat_paths(t: pa.Table) -> list[str]:
    """The data files a lineage table's `paths` column names (base
    parts carry none: their files are in the manifest)."""
    if "paths" not in t.column_names:
        return []
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

    # -- path portability ---------------------------------------------------
    # Manifests store data-file paths RELATIVE to the table root whenever
    # the file lives under it, so a table directory (or an exported
    # artifact) can be moved/copied and still read.  Absolute paths (e.g.
    # files outside the root) pass through untouched.

    def _rel(self, p: str) -> str:
        root = os.path.abspath(self.root)
        ap = os.path.abspath(p) if os.path.isabs(p) else None
        if ap is not None and ap.startswith(root + os.sep):
            return os.path.relpath(ap, root)
        return p

    def _abs(self, p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(self.root, p)

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
        """On-disk snapshot record (pointer form, not resolved)."""
        snap = self._snap_cache.get(snapshot_id)
        if snap is None:
            p = os.path.join(self.meta_dir,
                             f"snapshot-{snapshot_id:06d}.json")
            if not os.path.exists(p):
                raise ValueError(f"no snapshot {snapshot_id}")
            with open(p) as f:
                snap = json.load(f)
            self._snap_cache[snapshot_id] = snap
        return snap

    def _manifest(self, name: str) -> dict:
        m = self._manifest_cache.get(name)
        if m is None:
            with open(os.path.join(self.meta_dir, name)) as f:
                m = json.load(f)
            self._manifest_cache[name] = m
        return m

    def _part_table(self, rel_path: str) -> pa.Table:
        """One lineage parquet part (immutable -> cached)."""
        t = self._part_cache.get(rel_path)
        if t is None:
            t = pq.read_table(self._abs(rel_path))
            self._part_cache[rel_path] = t
        return t

    @staticmethod
    def _stats_overlap(stats: dict | None, lo: int | None,
                       hi: int | None) -> bool:
        """Can (stats) hold tiles in [lo, hi]?  Missing stats -> True
        (must read); empty commits -> False."""
        if stats is None:
            return True
        if stats.get("n_rows", 1) == 0:
            return False
        mn, mx = stats.get("min_tile"), stats.get("max_tile")
        if lo is not None and mx is not None and mx < lo:
            return False
        if hi is not None and mn is not None and mn > hi:
            return False
        return True

    def _commit_content(
        self, snap: dict, lo: int | None, hi: int | None
    ) -> tuple[list[str], list[pa.Table]]:
        """(files, lineage tables) contributed by ONE commit, tile-range
        pruned.  Lineage parts prune at part level via their min/max
        stats (parquet row-group footers at commit time), then filter
        rows; `data_files` entries (compaction rewrites, base
        manifests) prune via their per-file min/max tile stats.  A
        staged part's rows are attributed to this commit; a base part
        keeps each row's own snapshot_id."""
        name = snap.get("manifest")
        if name is None:
            return [], []
        m = self._manifest(name)
        files = [e["path"] for e in m.get("data_files", [])
                 if self._stats_overlap(e, lo, hi)]
        tables: list[pa.Table] = []
        for part in m.get("lineage_parquet", []):
            if not self._stats_overlap(part, lo, hi):
                continue
            t = self._part_table(part["path"])
            if lo is not None:
                t = t.filter(pc.greater_equal(t["tile_gid"], lo))
            if hi is not None:
                t = t.filter(pc.less_equal(t["tile_gid"], hi))
            files.extend(_flat_paths(t))
            if "snapshot_id" not in t.column_names:
                t = t.append_column("snapshot_id", pa.repeat(
                    pa.scalar(snap["snapshot_id"], pa.int64()), t.num_rows))
            tables.append(t.select(_LINEAGE.names).cast(_LINEAGE))
        return files, tables

    def _resolve_chain(
        self,
        snapshot_id: int,
        min_tile: int | None = None,
        max_tile: int | None = None,
    ) -> tuple[list[str], pa.Table]:
        """Cumulative (files, lineage table) for a snapshot: walk the
        parent chain, oldest-first, concatenating per-commit manifests.
        O(total history) on first touch, O(1-ish) after via the
        immutable-manifest/part caches.

        min_tile/max_tile prune the walk Iceberg-style: the snapshot
        pointer carries commit-level tile stats, so a commit whose range
        is disjoint is skipped WITHOUT opening its manifest (let alone
        its lineage parquet) — reading one tile's files from a
        1000-commit table touches ~1 manifest, not 1000.

        A REWRITE snapshot (compaction) carries the COMPLETE data-file
        set as of its commit: commits OLDER than the newest rewrite on
        the path contribute lineage history only, never files (their
        data files were superseded by the compacted ones)."""
        chain: list[tuple[dict, bool, bool]] = []  # (snap, files?, lineage?)
        sid: int | None = snapshot_id
        pruning = min_tile is not None or max_tile is not None
        files_visible = True
        while sid is not None:
            snap = self._raw_snapshot(sid)
            inc_lin = not pruning or self._stats_overlap(
                snap.get("stats"), min_tile, max_tile
            )
            inc_files = files_visible and (
                not pruning or self._stats_overlap(
                    snap.get("file_stats", snap.get("stats")),
                    min_tile, max_tile,
                )
            )
            if inc_lin or inc_files:
                chain.append((snap, inc_files, inc_lin))
            if snap.get("rewrite"):
                files_visible = False
            sid = snap["parent"]
        files: list[str] = []
        lineage: list[pa.Table] = []
        for snap, inc_files, inc_lin in reversed(chain):  # oldest -> newest
            f, r = self._commit_content(
                snap, min_tile if pruning else None,
                max_tile if pruning else None,
            )
            if inc_files:
                files.extend(f)
            if inc_lin:
                lineage.extend(r)
        # several tiles' lineage rows name one task's file: each once
        return ([self._abs(f) for f in dict.fromkeys(files)],
                pa.concat_tables(lineage) if lineage
                else _LINEAGE.empty_table())

    def snapshots(self) -> list[int]:
        """All committed snapshot ids, ascending (the history log)."""
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

    def _finish_commit(self, sid: int, parent: int | None,
                       manifest_name: str | None, **fields) -> int:
        """Shared commit tail: O(1) snapshot pointer (`fields` carry the
        commit-level tile stats used for pruned chain walks, and flags),
        created exclusively — a writer that raced another for `sid`
        raises FileExistsError before CURRENT moves — then atomically
        swap CURRENT."""
        snap_name = f"snapshot-{sid:06d}.json"
        tmp = os.path.join(self.meta_dir, f".{snap_name}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": sid, "parent": parent,
                       "manifest": manifest_name, **fields}, f)
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

    def _footer_file_stats(self, d: str) -> list[dict]:
        """Per-file {path (root-relative), n_rows, min_tile, max_tile}
        for every non-empty .parquet under `d`, from parquet FOOTERS
        only (row-group statistics of the `tile_gid` column — never the
        data pages).  Shared by commit_staged (staged-lineage parts) and
        compact (rewritten data files)."""
        parts: list[dict] = []
        if not os.path.isdir(d):
            return parts
        for n in sorted(os.listdir(d)):
            if not n.endswith(".parquet"):
                continue
            e = self._file_stat(os.path.join(d, n))
            if e is not None:
                parts.append(e)
        return parts

    def _file_stat(self, p: str) -> dict | None:
        """Footer-only stats entry for one parquet file (None if the
        file is empty): {path (root-relative), n_rows, min_tile,
        max_tile} with the tile range from `tile_gid` row-group
        statistics where the column exists."""
        md = pq.ParquetFile(p).metadata
        if md.num_rows == 0:
            return None
        idx = next(
            (i for i in range(md.num_columns)
             if md.row_group(0).column(i).path_in_schema == "tile_gid"),
            None,
        ) if md.num_row_groups else None
        mins: list[int] = []
        maxs: list[int] = []
        if idx is not None:
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max:
                    mins.append(int(st.min))
                    maxs.append(int(st.max))
        return {"path": os.path.relpath(p, self.root),
                "n_rows": md.num_rows,
                "min_tile": min(mins) if mins else None,
                "max_tile": max(maxs) if maxs else None}

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
        (row counts + tile_gid row-group min/max) to build per-part
        stats, writes a manifest listing the parts, and the usual O(1)
        pointer.  Driver I/O is O(parts) (~shuffle partitions), not
        O(tiles).  Each commit's part is the only metadata that grows
        with its tile count."""
        sid, parent = self._next_sid()
        parts = self._footer_file_stats(staged_dir)
        manifest_name = None
        if parts:
            manifest_name = f"manifest-{sid:06d}-{uuid.uuid4().hex}.json"
            self._write_atomic(
                manifest_name,
                {"snapshot_id": sid, "lineage_parquet": parts},
            )
        return self._finish_commit(sid, parent, manifest_name,
                                   stats=_range_stats(parts))

    # -- reads ----------------------------------------------------------------

    def files(
        self,
        snapshot_id: int | None = None,
        min_tile: int | None = None,
        max_tile: int | None = None,
    ) -> list[str]:
        """Committed data files, optionally restricted to a tile range —
        the pruned path walks the snapshot pointers' commit-level stats
        and never opens a disjoint commit's manifest or lineage parts.
        `snapshot_id` reads the files AS OF that commit (time travel:
        manifests are immutable, like Iceberg's `VERSION AS OF`)."""
        if snapshot_id is None:
            snapshot_id = self._current_sid()
            if snapshot_id is None:
                return []
        return self._resolve_chain(snapshot_id, min_tile, max_tile)[0]

    def lineage(
        self,
        snapshot_id: int | None = None,
        min_tile: int | None = None,
        max_tile: int | None = None,
    ) -> pd.DataFrame:
        """Cumulative lineage, one row per committed tile, in the one
        lineage schema (fixed dtypes, also when empty)."""
        return self._lineage_table(snapshot_id, min_tile, max_tile).to_pandas()

    def completed_tiles(self) -> set[int]:
        """Tiles the table holds a lineage row for: every status
        run_tiles commits (ok, empty, skipped) is done."""
        return set(self._lineage_table()["tile_gid"].to_numpy().tolist())

    def _lineage_table(self, snapshot_id: int | None = None,
                       min_tile: int | None = None,
                       max_tile: int | None = None) -> pa.Table:
        if snapshot_id is None:
            snapshot_id = self._current_sid()
            if snapshot_id is None:
                return _LINEAGE.empty_table()
        return self._resolve_chain(snapshot_id, min_tile, max_tile)[1]

    def read(self, spark, snapshot_id: int | None = None,
             min_tile: int | None = None, max_tile: int | None = None):
        """Committed-snapshot view as a DataFrame (reads only committed
        files — uncommitted task output is invisible).  snapshot_id
        reads the table AS OF that commit (time travel); min_tile/
        max_tile restrict the scan to that tile range via the pruned
        metadata walk (Iceberg-style partition-summary skipping).

        Every data file carries a row-level `tile_gid` column (run_tiles
        writes it, compaction keeps it), so a pruned read ALSO applies
        the range as a row filter: the result is tile-exact although a
        file spans several tiles (a dispatch task's file, a compacted
        file) — the file-level prune is the scan optimization, the
        filter is the contract (the split Iceberg itself makes)."""
        fs = self.files(snapshot_id, min_tile, max_tile)
        if not fs:
            raise ValueError("empty table (no committed snapshot)")
        df = spark.read.option("mergeSchema", "true").parquet(*fs)
        if min_tile is not None:
            df = df.where(df["tile_gid"] >= min_tile)
        if max_tile is not None:
            df = df.where(df["tile_gid"] <= max_tile)
        return df

    # -- maintenance (compaction, snapshot expiry, vacuum) --------------------
    # The reference delegates table maintenance to Postgres — db.vacuum
    # runs VACUUM ANALYZE after bulk loads (batch3dfier/db.py:62-83).
    # An Iceberg-style table needs the jobs Postgres does implicitly:
    # rewriting many small files into few (Iceberg rewriteDataFiles),
    # retiring old snapshots (expire_snapshots), and reclaiming
    # unreferenced storage (remove_orphan_files).  Without them every
    # pass leaves one more small file per dispatch task and the
    # manifest chain grows unboundedly across runs.

    def compact(self, spark, target_file_rows: int = 4_000_000) -> int:
        """Rewrite the current snapshot's data into ~rows/target
        TILE-RANGE-SORTED files and commit them as a REWRITE snapshot
        (Iceberg rewriteDataFiles binpack+sort).  The rewrite manifest
        carries the complete replacement file set with per-file tile
        ranges, so older commits keep contributing lineage history but
        never files; every pre-compaction snapshot stays time-travel
        readable until expired.  Lineage, resume, and skip bookkeeping
        are untouched — compaction changes layout, not state.

        The shuffle is ONE range repartition on tile_gid (sampled range
        boundaries make output files contiguous tile runs, so pruned
        reads touch few files); the write is executor-side; the commit
        reads only output parquet footers."""
        import math
        import shutil

        fs = self.files()
        if not fs:
            raise ValueError("empty table (no committed snapshot)")
        df = spark.read.parquet(*fs)
        total = df.count()
        n_out = max(1, math.ceil(total / target_file_rows))
        out_rel = os.path.join("data", f"compact-{uuid.uuid4().hex}")
        out_dir = os.path.join(self.root, out_rel)
        try:
            (
                df.repartitionByRange(n_out, "tile_gid")
                .sortWithinPartitions("tile_gid")
                .write.parquet(out_dir)
            )
            entries = self._footer_file_stats(out_dir)
            sid, parent = self._next_sid()
            manifest_name = f"manifest-{sid:06d}-{uuid.uuid4().hex}.json"
            self._write_atomic(
                manifest_name,
                {"snapshot_id": sid, "data_files": entries},
            )
            return self._finish_commit(
                sid, parent, manifest_name,
                stats={"n_rows": 0},  # a rewrite adds no lineage
                rewrite=True, file_stats=_range_stats(entries),
            )
        except BaseException:
            shutil.rmtree(out_dir, ignore_errors=True)
            raise

    def expire_snapshots(self, keep_n: int = 2) -> list[int]:
        """Retire all but the newest `keep_n` snapshots (Iceberg
        expire_snapshots): the oldest RETAINED snapshot is rebased into
        a self-contained base manifest — its cumulative file set (with
        per-file tile stats, so pruned walks keep skipping) plus its
        cumulative lineage as one parquet part with per-row original
        snapshot_id — then the expired pointers/manifests are deleted
        and vacuum() reclaims everything no retained snapshot
        references (superseded pre-compaction files included).

        Time travel to retained snapshots is unchanged (the rebase
        preserves files, lineage, and lineage attribution exactly);
        expired ids raise.  Driver cost is O(base files + base lineage)
        — the same class as the manifest scan Iceberg's own maintenance
        actions run.  Returns the expired snapshot ids."""
        if keep_n < 1:
            raise ValueError("keep_n must be >= 1")
        # committed ids only: a pointer newer than CURRENT (an
        # interrupted commit) is an orphan for vacuum(), never a keeper
        cur = self._current_sid()
        sids = [s for s in self.snapshots() if cur is not None and s <= cur]
        if len(sids) <= keep_n:
            return []
        expired, kept = sids[:-keep_n], sids[-keep_n:]
        base_sid = kept[0]
        name, fields = self._write_base(base_sid, *self._resolve_chain(base_sid))
        # the one pointer overwrite: same id, rebased onto the base manifest
        self._write_atomic(
            f"snapshot-{base_sid:06d}.json",
            {"snapshot_id": base_sid, "parent": None, "manifest": name,
             **fields},
        )
        self._snap_cache.pop(base_sid, None)
        for sid in expired:
            p = os.path.join(self.meta_dir, f"snapshot-{sid:06d}.json")
            if os.path.exists(p):
                os.remove(p)
            self._snap_cache.pop(sid, None)
        self.vacuum()
        return expired

    def _write_base(self, sid: int, files: list[str],
                    lineage: pa.Table) -> tuple[str, dict]:
        """Write a resolved snapshot (files, attributed lineage) as ONE
        self-contained base manifest, for expiry and export alike: each
        file with its footer tile stats, the lineage as one part;
        returns (manifest name, pointer fields)."""
        entries = [e | {"path": self._rel(f)} for f in files
                   if (e := self._file_stat(f)) is not None]
        parts: list[dict] = []
        if lineage.num_rows:
            part_dir = os.path.join(
                self.meta_dir, f"lineage-base-{uuid.uuid4().hex}")
            os.makedirs(part_dir, exist_ok=True)
            part_path = os.path.join(part_dir, "part-0.parquet")
            pq.write_table(lineage, part_path)
            parts.append(self._file_stat(part_path))
        name = f"manifest-{sid:06d}-{uuid.uuid4().hex}.json"
        self._write_atomic(
            name,
            {"snapshot_id": sid, "base": True,
             "data_files": entries, "lineage_parquet": parts},
        )
        return name, {"stats": _range_stats(parts),
                      "file_stats": _range_stats(entries), "base": True}

    def vacuum(self) -> dict:
        """Reclaim everything NO committed snapshot references: data
        files (e.g. pre-compaction small files once their snapshots
        expired), staged-lineage parts and dirs (including orphans from
        runs that died between staging and commit — otherwise invisible
        but unbounded garbage), manifests written by failed commits,
        pointers newer than CURRENT (a commit that died before its
        CURRENT swap; the next commit would collide with them), and
        stale .tmp files.  Run it only while no writer is in flight: a
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
            name = self._raw_snapshot(sid).get("manifest")
            if name is None:
                continue
            ref_manifests.add(name)
            m = self._manifest(name)
            ref_files.update(
                os.path.abspath(self._abs(e["path"]))
                for e in m.get("data_files", []))
            for part in m.get("lineage_parquet", []):
                ref_parts.add(os.path.abspath(self._abs(part["path"])))
                ref_files.update(
                    os.path.abspath(self._abs(p))
                    for p in _flat_paths(self._part_table(part["path"])))
        for root_, _dirs, names in os.walk(self.data_dir, topdown=False):
            for n in names:
                p = os.path.join(root_, n)
                if os.path.abspath(p) not in ref_files:
                    os.remove(p)
                    removed["data_files"] += 1
            if root_ != self.data_dir and not os.listdir(root_):
                os.rmdir(root_)
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

    # -- export (S9) ----------------------------------------------------------

    def export_snapshot(self, snapshot_id: int | None, out_dir: str) -> str:
        """S9 parity: export one snapshot as a SELF-CONTAINED artifact —
        the analog of the reference's dump entry point (bag3d.py:239-329:
        pg_dump schema + ogr2ogr -> GeoPackage file a user can carry
        away).  Copies the snapshot's data files under out_dir/data/,
        writes one base manifest (`_write_base`, the format expiry
        writes) with RELATIVE-to-out_dir paths plus the attributed
        lineage history, and a human-readable lineage.csv.  The
        artifact is itself a valid one-snapshot IcebergishTable:
        `IcebergishTable(out_dir).read(spark)` returns exactly
        `self.read(spark, snapshot_id)`.  Raises ValueError when out_dir
        already holds a table.

        At cluster scale the per-file copy loop is an object-store
        server-side copy per data file (no driver byte traffic); here it
        is shutil.  Returns out_dir."""
        import shutil

        if snapshot_id is None:
            snapshot_id = self._current_sid()
            if snapshot_id is None:
                raise ValueError("empty table (no committed snapshot)")
        files, lineage = self._resolve_chain(snapshot_id)
        out = IcebergishTable(out_dir)
        if out.snapshots():
            raise ValueError(f"{out_dir} already holds a table")
        copies = []
        for src in files:
            # keep each file's path under data/ (data/part-*.parquet,
            # data/compact-*/part-*.parquet); a file from outside data/
            # keeps its parent directory's name
            rel = os.path.relpath(os.path.abspath(src),
                                  os.path.abspath(self.data_dir))
            if rel.startswith(os.pardir + os.sep):
                rel = os.path.join(os.path.basename(os.path.dirname(src)),
                                   os.path.basename(src))
            dst = os.path.join(out.data_dir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(src, dst)
            copies.append(dst)
        # RELATIVE paths in the base manifest: the artifact stays readable
        # after being moved/copied
        name, fields = out._write_base(1, copies, lineage)
        out._finish_commit(1, None, name, **fields, exported_from={
            "root": self.root, "snapshot_id": snapshot_id})
        lineage.to_pandas().to_csv(
            os.path.join(out_dir, "lineage.csv"), index=False)
        return out_dir
