"""Iceberg-style table IO over plain Parquet (SURVEY §7.0).

No Iceberg runtime jar exists in this sandbox, so this module implements
the subset of Iceberg semantics the engine relies on, behind one seam:

- **snapshot commit**: data files are written first; a ``_manifest.json``
  is written LAST via atomic rename — the analog of the reference writing
  the B+tree root node last (idx.py:260-261). A table without a manifest
  is invisible to readers.
- **manifest file stats**: per-data-file min/max for declared stats
  columns (harvested from Parquet footers via pyarrow) — the analog of
  the reference's internal ``paths`` nodes holding child first-keys
  (idx.py:225-226). ``read_pruned`` uses them for file-level skipping;
  Parquet row-group stats then skip within files.

- **snapshot history + time travel**: every commit also lands a copy of
  its manifest under ``_snapshots/<id>.json`` with a ``parent_id`` link
  (the Iceberg snapshot log). ``read_at`` serves any retained snapshot,
  ``restore`` makes an old snapshot the new head (non-destructive — the
  abandoned branch stays readable until expired), ``expire_snapshots``
  trims history and deletes data files no retained snapshot references.
- **manifest-resolved reads**: ``read`` hands Spark the head manifest's
  explicit file list, never a directory listing — files from an
  in-flight or crashed append are invisible until their commit, exactly
  like Iceberg (and unlike raw ``spark.read.parquet(dir)``).

When a real Iceberg catalog is configured (``spark.sql.catalog.*`` +
runtime jar), ``Catalog`` can be swapped for ``df.writeTo(...)`` /
``spark.read.table(...)`` without touching callers — the seam is this
class's five methods.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Row-group cap for tables serving point reads (the B+tree leaf size).
# Sorted data + per-row-group min/max stats let a point probe decode one
# ~0.5 MB group instead of Spark's 128 MB default row group; both the
# pyarrow warm tier and Spark's parquet reader prune on these stats.
LEAF_ROW_GROUP_BYTES = 512 * 1024


def _history_row(man: dict) -> dict:
    """The snapshot-log row of the manifest ``man``."""
    return {
        "snapshot_id": man["snapshot_id"],
        "parent_id": man.get("parent_id"),
        "op": man.get("op", "write"),
        "committed_at": man["committed_at"],
        "data_dir": man.get("data_dir", "data"),
        "n_files": len(man["files"]),
        "rows": sum(e.get("rows") or 0 for e in man["files"]),
    }


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        # warm-path caches (the interactive no-Spark-job tier): parsed
        # manifests keyed by file mtime, pyarrow datasets + per-file
        # fragments keyed by snapshot id. Fragments memoize their parquet
        # footer after first use, so repeat warm queries skip ALL
        # metadata IO — this is what closes the gap to the reference's
        # 15 ms warm class. Invalidation is by snapshot/mtime, so
        # appends/replaces are picked up automatically.
        self._man_cache: dict[str, tuple[int, dict]] = {}
        self._ds_cache: dict[str, tuple[str, Any, dict[str, Any]]] = {}
        # Spark schemas of head snapshots, keyed by their arrow schema
        # (see spark_schema)
        self._schemas: dict[str, tuple[pa.Schema, StructType]] = {}

    # -- paths -----------------------------------------------------------

    def table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.table_dir(name), "_manifest.json")

    def _snapshots_dir(self, name: str) -> str:
        return os.path.join(self.table_dir(name), "_snapshots")

    def _history_path(self, name: str) -> str:
        return os.path.join(self.table_dir(name), "_history.jsonl")

    def exists(self, name: str) -> bool:
        return os.path.exists(self._manifest_path(name))

    # -- write / commit ----------------------------------------------------

    def _data_dir_name(self, name: str) -> str:
        """Current committed data directory (manifest pointer; pre-pointer
        manifests default to ``data``)."""
        if self.exists(name):
            return self.manifest(name).get("data_dir", "data")
        return "data"

    def write(
        self,
        df: DataFrame | pa.Table,
        name: str,
        stats_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
        props: dict[str, Any] | None = None,
        mode: str = "overwrite",
        row_group_bytes: int | None = None,
    ) -> dict:
        """Write data files, then commit by writing the manifest last.

        ``append`` writes into the COMMITTED data dir (new files only
        become visible at the manifest replace); ``overwrite`` of a live
        table is not crash-atomic — use :meth:`replace` for that.

        ``row_group_bytes`` caps the Parquet row-group size. Tables that
        serve POINT reads (index blocks, docmap, covering indexes) want
        small row groups — they are the B+tree leaf size: sorted data +
        per-row-group min/max stats mean a point probe decodes one small
        group instead of a whole 128 MB default group. Scan-heavy tables
        keep the default.

        ``df`` may also be a driver-resident ``pyarrow.Table`` (see
        :meth:`_write_files`); the commit itself is the same."""
        data_dir = self._data_dir_name(name) if mode == "append" else "data"
        if mode == "append" and props is None:
            # append semantics: table props are UNCHANGED unless the
            # caller passes new ones — without this, appending to a
            # table whose manifest carries props (docmeta's meta_cols)
            # would silently wipe them at the manifest rewrite
            try:
                props = self.manifest(name).get("props") or None
            except FileNotFoundError:
                pass
        ddir = os.path.join(self.table_dir(name), data_dir)
        # O(delta) append metadata: snapshot the dir before the write so
        # only the NEW files get their footers harvested; prior entries
        # carry over from the head manifest verbatim. Re-harvesting the
        # whole table per append is O(corpus) metadata work for an
        # O(delta) event — at 10^12 turns that is the difference between
        # a constant-time and a linear-time commit. Side effect (the
        # Iceberg behavior): files from a CRASHED earlier append attempt
        # are in the pre-listing, so they stay uncommitted-invisible
        # instead of being silently resurrected into the next snapshot.
        prev_entries = None
        before: set[str] = set()
        if mode == "append" and self.exists(name):
            prev_entries = self.manifest(name)["files"]
            before = set(self._walk_parquet(ddir))
        self._write_files(df, name, ddir, mode, row_group_bytes, partition_by)
        new_paths = None
        if prev_entries is not None:
            new_paths = [p for p in self._walk_parquet(ddir)
                         if p not in before]
        return self.commit(
            name, stats_cols=stats_cols, props=props, data_dir=data_dir,
            carry_files=prev_entries, harvest_paths=new_paths,
            op="append" if prev_entries is not None else "write",
        )

    def replace(
        self,
        df: DataFrame | pa.Table,
        name: str,
        stats_cols: list[str] | None = None,
        props: dict[str, Any] | None = None,
        row_group_bytes: int | None = None,
    ) -> dict:
        """CRASH-ATOMIC table rewrite: data files land in a fresh
        generation directory and the manifest pointer swaps to it in one
        ``os.replace`` (the commit point). A crash before the swap leaves
        the old snapshot fully intact; a crash after leaves only orphan
        files (harmless — no manifest references them).

        Generation GC is DEFERRED to :meth:`expire_snapshots` (the
        Iceberg contract): every older generation stays on disk, so any
        snapshot a caller pinned before this replace remains
        readable/restorable until the caller explicitly expires history.
        Expiry also reclaims leftovers of a replace that crashed between
        its data write and its commit; a replace itself reads no
        snapshot, so its cost does not grow with the table's history."""
        gen = f"data-{uuid.uuid4().hex[:8]}"
        ddir = os.path.join(self.table_dir(name), gen)
        self._write_files(df, name, ddir, "overwrite", row_group_bytes)
        return self.commit(name, stats_cols=stats_cols, props=props,
                           data_dir=gen, op="replace")

    def _write_files(
        self,
        data: DataFrame | pa.Table,
        name: str,
        ddir: str,
        mode: str,
        row_group_bytes: int | None,
        partition_by: list[str] | None = None,
    ) -> None:
        """Land one commit's data files under ``ddir``. A DataFrame goes
        through Spark's writer. A ``pyarrow.Table`` is written from the
        driver as ONE zstd file, no Spark job, cast to the committed
        table's arrow schema so an append or rewrite never forks the
        schema; timestamps are INT96, as Spark writes them by default."""
        if isinstance(data, DataFrame):
            w = data.write.mode(mode).option("compression", "zstd")
            if row_group_bytes:
                w = w.option("parquet.block.size", str(int(row_group_bytes)))
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(ddir)
            return
        if partition_by:
            raise ValueError("partition_by needs a DataFrame")
        schema = self.arrow_schema(name) if self.exists(name) else None
        if schema is not None:
            data = data.select(schema.names).cast(schema)
        if mode == "overwrite":
            shutil.rmtree(ddir, ignore_errors=True)
        os.makedirs(ddir, exist_ok=True)
        rows = None
        if row_group_bytes and data.num_rows:
            rows = max(1, int(row_group_bytes) * data.num_rows
                       // max(1, data.nbytes))
        pq.write_table(
            data, os.path.join(ddir, f"part-00000-{uuid.uuid4()}.zstd.parquet"),
            compression="zstd", row_group_size=rows,
            use_deprecated_int96_timestamps=True,
        )

    def _walk_parquet(self, ddir: str) -> list[str]:
        paths = []
        for dirpath, _dirs, fnames in os.walk(ddir):
            for fn in sorted(fnames):
                if fn.endswith(".parquet"):
                    paths.append(os.path.join(dirpath, fn))
        return paths

    def commit(
        self,
        name: str,
        stats_cols: list[str] | None = None,
        props: dict[str, Any] | None = None,
        data_dir: str = "data",
        carry_files: list[dict] | None = None,
        harvest_paths: list[str] | None = None,
        op: str = "write",
    ) -> dict:
        """Harvest footer stats for data files and atomically publish the
        manifest (the snapshot commit point).

        Default: harvest every parquet file under ``data_dir``. An
        O(delta) commit passes ``carry_files`` (prior entries kept
        verbatim) + ``harvest_paths`` (only the new files get footer
        reads). Every commit also records itself in the snapshot log
        (``_snapshots/<id>.json`` + one ``_history.jsonl`` row) with a
        ``parent_id`` link, enabling :meth:`read_at` time travel and
        :meth:`restore`."""
        ddir = os.path.join(self.table_dir(name), data_dir)
        if stats_cols is None and carry_files is not None and self.exists(name):
            # append semantics: stats columns are table metadata, not
            # per-call options — a bare append must not reset them (that
            # would disable manifest file pruning for the WHOLE table,
            # prior files included, and the docmap delete-prune keyed off
            # head stats_cols). Same inheritance rule as props in write().
            stats_cols = self.manifest(name).get("stats_cols") or None
        if harvest_paths is not None:
            paths = list(harvest_paths)
        else:
            paths = self._walk_parquet(ddir)

        def harvest(path: str) -> dict[str, Any]:
            entry: dict[str, Any] = {
                "path": os.path.relpath(path, self.table_dir(name)),
            }
            meta = pq.ParquetFile(path).metadata
            entry["rows"] = meta.num_rows
            if stats_cols:
                names = [meta.schema.column(i).name
                         for i in range(meta.num_columns)]
                for col in stats_cols:
                    ci = names.index(col)
                    lo, hi = None, None
                    for rg in range(meta.num_row_groups):
                        st = meta.row_group(rg).column(ci).statistics
                        if st is None or not st.has_min_max:
                            continue
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    entry[f"min_{col}"] = lo
                    entry[f"max_{col}"] = hi
            return entry

        # footer reads are independent → thread pool (a serial loop here
        # is driver-side fixed cost that would cap scaling efficiency)
        from concurrent.futures import ThreadPoolExecutor

        if len(paths) > 4:
            with ThreadPoolExecutor(max_workers=16) as ex:
                files = list(ex.map(harvest, paths))
        else:
            files = [harvest(p) for p in paths]
        if carry_files:
            files = list(carry_files) + files
        parent = (
            self.manifest(name)["snapshot_id"] if self.exists(name) else None
        )
        manifest = {
            "snapshot_id": uuid.uuid4().hex,
            "parent_id": parent,
            "op": op,
            "committed_at": time.time(),
            "format": "parquet-iceberg-style",
            "data_dir": data_dir,
            "stats_cols": stats_cols or [],
            "props": props or {},
            "files": files,
        }
        return self._publish(name, manifest)

    def _publish(self, name: str, manifest: dict) -> dict:
        """Land the snapshot copy, swap the head manifest (THE commit
        point, one atomic rename), then append the history row — one
        line, so a commit costs the same however long the history is. A
        crash before the swap leaves an orphan snapshot json (harmless);
        a crash after it leaves the head valid with its history row
        missing or torn — :meth:`history` skips a torn row and
        synthesizes the head row in that case."""
        sid = manifest["snapshot_id"]
        sdir = self._snapshots_dir(name)
        os.makedirs(sdir, exist_ok=True)
        body = json.dumps(manifest, indent=1, default=str)
        spath = os.path.join(sdir, f"{sid}.json")
        with open(spath + ".tmp", "w") as f:
            f.write(body)
        os.replace(spath + ".tmp", spath)
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(body)
        os.replace(tmp, self._manifest_path(name))  # atomic commit
        # the leading newline ends a row torn by a crash mid-append
        with open(self._history_path(name), "a") as f:
            f.write("\n" + json.dumps(_history_row(manifest), default=str))
        return manifest

    def _read_history(self, name: str) -> list[dict]:
        rows = []
        try:
            with open(self._history_path(name)) as f:
                for line in f:
                    try:
                        rows.append(json.loads(line))
                    except ValueError:  # the blank first line, a torn row
                        pass
        except FileNotFoundError:
            pass
        return rows

    def history(self, name: str) -> list[dict]:
        """Snapshot log, oldest → newest (Iceberg ``table.history()``
        analog). Tolerates a crash between head swap and history append
        by synthesizing the head's row; tables with no
        ``_history.jsonl`` report just the head."""
        hist = self._read_history(name)
        if self.exists(name):
            head = self.manifest(name)
            if not any(h["snapshot_id"] == head["snapshot_id"] for h in hist):
                hist.append(_history_row(head))
        return hist

    # -- read --------------------------------------------------------------

    def manifest(self, name: str) -> dict:
        path = self._manifest_path(name)
        mtime = os.stat(path).st_mtime_ns
        hit = self._man_cache.get(name)
        if hit is not None and hit[0] == mtime:
            return hit[1]
        with open(path) as f:
            man = json.load(f)
        self._man_cache[name] = (mtime, man)
        return man

    def _fragments(self, name: str):
        """(dataset, {abs_path: fragment}) for the committed snapshot,
        cached — fragment objects keep their parsed footer, so repeat
        driver-side reads of the same files do zero metadata IO."""
        import pyarrow.dataset as ds

        man = self.manifest(name)
        snap = man["snapshot_id"]
        hit = self._ds_cache.get(name)
        if hit is not None and hit[0] == snap:
            return hit[1], hit[2]
        paths = self._paths(name, man)
        dataset = ds.dataset(paths, format="parquet") if paths else None
        frags = (
            {f.path: f for f in dataset.get_fragments()} if dataset else {}
        )
        self._ds_cache[name] = (snap, dataset, frags)
        return dataset, frags

    def read(self, name: str, snapshot_id: str | None = None) -> DataFrame:
        """Scan the head snapshot (or, with ``snapshot_id``, time-travel
        to a retained one). Reads resolve through the MANIFEST's explicit
        file list, never a directory listing, so files from an in-flight
        or crashed (uncommitted) append are invisible — the Iceberg
        isolation contract. A head read takes its schema from
        :meth:`spark_schema`, so once that is cached defining the scan
        runs no Spark job; a time-travel read infers its own, as an old
        snapshot may have other columns than the head."""
        if not self.exists(name):
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        if not snapshot_id:
            man = self.manifest(name)
            schema = self.spark_schema(name) if man["files"] else None
            return self._scan(name, man, schema)
        return self._scan(name, self._retained(name, snapshot_id))

    def _paths(self, name: str, man: dict) -> list[str]:
        return [os.path.join(self.table_dir(name), e["path"])
                for e in man["files"]]

    def _scan(self, name: str, man: dict, schema: StructType | None = None,
              paths: list[str] | None = None) -> DataFrame:
        """Spark scan of ``paths`` (default: every data file of the
        snapshot ``man``). Without a ``schema`` Spark infers one, a job."""
        paths = self._paths(name, man) if paths is None else paths
        ddir = os.path.join(self.table_dir(name), man.get("data_dir", "data"))
        reader = self.spark.read if schema is None else (
            self.spark.read.schema(schema)
        )
        if not paths:  # zero-file snapshot: no footer to infer from
            return reader.parquet(ddir)
        # basePath: explicit file lists alone drop Hive partition columns
        # (partition VALUES live only in directory names); anchoring the
        # scan at the generation dir restores them for partition_by
        # tables and is a no-op for flat layouts
        return reader.option("basePath", ddir).parquet(*paths)

    def spark_schema(self, name: str) -> StructType:
        """Spark schema of ``name``'s head snapshot. Inferring it is a
        Spark job, so it is cached by the head's arrow schema, metadata
        included (a cached footer, no job; Spark writes its own schema
        into that metadata): a commit that keeps the schema, as every
        append and upsert does, infers nothing. A snapshot with no data
        file has nothing to key on and infers each time."""
        arrow = self.arrow_schema(name)
        if arrow is None:
            return self.read(name).schema
        hit = self._schemas.get(name)
        if hit is None or not hit[0].equals(arrow, check_metadata=True):
            hit = self._schemas[name] = (
                arrow, self._scan(name, self.manifest(name)).schema
            )
        return hit[1]

    def manifest_at(self, name: str, snapshot_id: str) -> dict:
        """Manifest of a historical snapshot from the snapshot log (the
        head answers without touching ``_snapshots/``)."""
        if self.exists(name):
            head = self.manifest(name)
            if head["snapshot_id"] == snapshot_id:
                return head
        spath = os.path.join(self._snapshots_dir(name), f"{snapshot_id}.json")
        try:
            with open(spath) as f:
                return json.load(f)
        except FileNotFoundError:
            from ..err import UnknownSnapshotError

            raise UnknownSnapshotError(name, snapshot_id) from None

    def _retained(self, name: str, snapshot_id: str) -> dict:
        """Manifest of ``snapshot_id``, whose data files must all still
        exist (``SnapshotExpiredError`` once expiry deleted one)."""
        man = self.manifest_at(name, snapshot_id)
        missing = [p for p in self._paths(name, man) if not os.path.exists(p)]
        if missing:
            from ..err import SnapshotExpiredError

            raise SnapshotExpiredError(name, snapshot_id, missing)
        return man

    def read_at(self, name: str, snapshot_id: str) -> DataFrame:
        """Time-travel scan (Iceberg ``VERSION AS OF`` analog)."""
        return self.read(name, snapshot_id=snapshot_id)

    def restore(self, name: str, snapshot_id: str) -> dict:
        """Make ``snapshot_id`` the table's head again (Iceberg
        ``rollback_to_snapshot``). Non-destructive: the abandoned branch's
        snapshots stay readable via :meth:`read_at` until
        :meth:`expire_snapshots` reclaims them. The restore is itself a
        new commit (fresh snapshot id, ``op="restore"``), so caches keyed
        on snapshot id invalidate and the log keeps a full audit trail."""
        man = dict(self._retained(name, snapshot_id))
        man["snapshot_id"] = uuid.uuid4().hex
        man["parent_id"] = (
            self.manifest(name)["snapshot_id"] if self.exists(name) else None
        )
        man["op"] = "restore"
        man["committed_at"] = time.time()
        out = self._publish(name, man)
        self._man_cache.pop(name, None)
        return out

    def expire_snapshots(self, name: str, keep_last: int = 3) -> dict:
        """Trim the snapshot log to the head + the ``keep_last`` most
        recent entries and delete data files referenced by NO retained
        snapshot (Iceberg ``expire_snapshots``). This is the bound on
        time-travel retention — and the reclaim path for generations
        abandoned by :meth:`restore` and for crashed-append orphans."""
        head = self.manifest(name)
        hist = self.history(name)
        keep_ids = {h["snapshot_id"] for h in hist[-max(keep_last, 1):]}
        keep_ids.add(head["snapshot_id"])
        referenced = {e["path"] for e in head["files"]}
        live_dirs = {head.get("data_dir", "data")}
        sdir = self._snapshots_dir(name)
        expired = 0
        if os.path.isdir(sdir):
            for fn in os.listdir(sdir):
                sid = fn[:-5]
                if not fn.endswith(".json"):
                    continue
                if sid in keep_ids:
                    try:
                        with open(os.path.join(sdir, fn)) as f:
                            snap = json.load(f)
                        referenced.update(e["path"] for e in snap["files"])
                        live_dirs.add(snap.get("data_dir", "data"))
                    except (OSError, KeyError, ValueError) as exc:
                        # a RETAINED snapshot whose manifest can't be read
                        # has an unknown file set — sweeping anyway could
                        # delete data that snapshot still needs. Abort:
                        # a metadata read error must never become data
                        # loss. (Expired snapshots below are unaffected —
                        # their json is removed without being parsed.)
                        raise RuntimeError(
                            f"expire_snapshots({name!r}): retained "
                            f"snapshot {sid} manifest unreadable; "
                            f"aborting sweep to avoid deleting files it "
                            f"may reference"
                        ) from exc
                else:
                    os.unlink(os.path.join(sdir, fn))
                    expired += 1
        tdir = self.table_dir(name)
        removed = 0
        for p in self._walk_parquet(tdir):
            if os.path.relpath(p, tdir) not in referenced:
                try:
                    os.unlink(p)
                    removed += 1
                except OSError:
                    pass
        # generation dirs no retained snapshot references any more: this
        # is the reclaim point for generations abandoned by replace()
        # (which defers GC here so pinned snapshots stay readable) and
        # for those of a replace that crashed before its commit
        for d in os.listdir(tdir):
            if d not in live_dirs and (d == "data" or d.startswith("data-")):
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
        htmp = self._history_path(name) + ".tmp"
        with open(htmp, "w") as f:
            f.writelines("\n" + json.dumps(h, default=str)
                         for h in hist if h["snapshot_id"] in keep_ids)
        os.replace(htmp, self._history_path(name))
        return {"expired_snapshots": expired, "removed_files": removed,
                "retained_snapshots": len(keep_ids)}

    def pruned_file_paths(
        self,
        name: str,
        col: str,
        values: list[Any] | None = None,
        lo: Any = None,
        hi: Any = None,
    ) -> list[str] | None:
        """Manifest-pruned data-file list for a point (``values``) or an
        inclusive-range (``lo``/``hi``) predicate on ``col``. Returns None
        when stats are absent (caller must fall back to a full read);
        returns [] when nothing can match."""
        man = self.manifest(name)
        if col not in man["stats_cols"] or (not values and lo is None and hi is None):
            return None
        keep = []
        for entry in man["files"]:
            flo, fhi = entry.get(f"min_{col}"), entry.get(f"max_{col}")
            if flo is None or fhi is None:
                keep.append(entry)
            elif values is not None and any(flo <= v <= fhi for v in values):
                keep.append(entry)
            elif values is None and not (
                (hi is not None and flo > hi) or (lo is not None and fhi < lo)
            ):
                keep.append(entry)
        return [os.path.join(self.table_dir(name), e["path"]) for e in keep]

    def read_pruned(
        self,
        name: str,
        col: str,
        values: list[Any] | None = None,
        lo: Any = None,
        hi: Any = None,
    ) -> DataFrame:
        """File-level skipping: read only data files whose [min,max] range
        for ``col`` can contain one of ``values`` / overlap [lo, hi]
        (B+tree-descent analog, prs.py:57-77). Falls back to the full
        table when stats are absent. The schema comes from
        :meth:`spark_schema`, as in :meth:`read`."""
        paths = self.pruned_file_paths(name, col, values, lo, hi)
        if paths is None:
            return self.read(name)
        if not paths:
            return self.read(name).limit(0)
        return self._scan(name, self.manifest(name), self.spark_schema(name),
                          paths)

    def arrow_schema(self, name: str) -> pa.Schema | None:
        """Arrow schema of the head snapshot, from a cached footer (no
        Spark job); None for a snapshot with no data files."""
        dataset, _ = self._fragments(name)
        return None if dataset is None else dataset.schema

    def read_arrow(self, name: str, columns: list[str] | None = None,
                   files: list[str] | None = None):
        """Unfiltered driver-side read → pyarrow Table (tiny relations:
        stats, per-query metadata), or only the head snapshot's data
        ``files`` (manifest paths) when given. Zero Spark jobs."""
        dataset, frags = self._fragments(name)
        if dataset is None:
            return pa.table({c: pa.nulls(0) for c in (columns or [])})
        if files is not None:
            dataset = self._subset(dataset, frags, [
                os.path.join(self.table_dir(name), f) for f in files])
        return dataset.to_table(columns=columns)

    @staticmethod
    def _subset(full, frags: dict, paths: list[str]):
        """The dataset of ``paths``, built from the CACHED fragments of
        ``full`` — no dataset re-discovery, no footer re-reads
        (fragments memoize their metadata)."""
        import pyarrow.dataset as ds

        sel = [frags.get(p) for p in paths]
        if any(f is None for f in sel):
            # path-normalization mismatch: plain per-call dataset
            return ds.dataset(paths, format="parquet")
        if len(sel) == len(frags):
            return full
        return ds.FileSystemDataset(
            sel, schema=full.schema, format=full.format,
            filesystem=full.filesystem,
        )

    def read_pruned_arrow(
        self,
        name: str,
        col: str,
        values: list[Any] | None = None,
        lo: Any = None,
        hi: Any = None,
        columns: list[str] | None = None,
    ):
        """Driver-side pruned read → pyarrow Table, ZERO Spark jobs.

        The warm query path: manifest file pruning + parquet row-group
        predicate pushdown, for metadata relations (terms, block meta)
        and interactive point lookups where job-scheduling latency would
        dominate (the reference's 0.015 s warm ``eq``, README.md:43)."""
        import pyarrow.dataset as ds

        full, frags = self._fragments(name)
        if full is None:
            # committed-but-empty table (e.g. an index over an empty
            # base): no footer to borrow a schema from — synthesize an
            # empty table over the requested columns (null-typed; callers
            # only length-check / filter empty frames on this path)
            cols = columns if columns is not None else [col]
            return pa.table({c: pa.nulls(0) for c in cols})
        paths = self.pruned_file_paths(name, col, values, lo, hi)
        if paths is not None and not paths:
            # provably empty: schema-only, no IO
            tbl = full.schema.empty_table()
            return tbl.select(columns) if columns is not None else tbl
        dataset = full if paths is None else self._subset(full, frags, paths)
        filt = None
        if values is not None:
            filt = ds.field(col).isin(values)
        else:
            if lo is not None:
                filt = ds.field(col) >= lo
            if hi is not None:
                f2 = ds.field(col) <= hi
                filt = f2 if filt is None else (filt & f2)
        return dataset.to_table(columns=columns, filter=filt)

    def drop(self, name: str) -> None:
        shutil.rmtree(self.table_dir(name), ignore_errors=True)
