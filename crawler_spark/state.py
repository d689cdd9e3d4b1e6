"""Snapshot-committed state tables with lineage, metrics, and exact resume.

The north rule asks for Iceberg state tables; this sandbox has no Iceberg
runtime jar and no network (verified: no iceberg jar under the pyspark
install), so the engine programs against a thin ``StateStore`` interface
whose default impl, ``SnapshotParquetStore``, provides the Iceberg-grade
semantics the engine needs, offline:

- **atomic commit**: new snapshot dir is staged under ``_tmp_*``, the
  manifest is written last, the dir is atomically renamed, then ``HEAD`` is
  atomically replaced (tmp file + ``os.replace``). A crash at any point
  leaves the previous snapshot intact and readable.
- **snapshot lineage**: every manifest records ``snapshot_id``,
  ``parent_id``, ``batch_id``, per-table file lists with row counts, and
  engine metrics — time travel = read any older manifest.
- **delta (append) tables**: append-only tables (url_seen, docs, crawl log,
  page links, candidates) store only the batch's new files; the manifest
  carries the full file list (parent's files + new). No O(total-state)
  rewrite per batch — at 10^10-frontier scale this is what keeps commit
  cost proportional to the batch, as Iceberg appends would be.
- **exactly-once re-commit**: committing any ``batch_id`` at or below
  HEAD's — immediate re-delivery or one delayed past newer commits — is a
  no-op returning that batch's manifest (maps the reference's acks_late
  redelivery + idempotence guard, /root/reference/backend/tasks/crawl.py:7,
  backend/service/services.py:291-292).
- **concurrent table writes**: a commit writes all of its tables at the
  same time, one thread per table, all into the staging dir; the commit
  waits for every write before it decides, so atomicity is unchanged.
- **schema-free reads**: a read passes Spark the schema of each snapshot
  directory from the store's in-memory map (filled at commit from the
  written frame), so it runs no schema-inference job. The map is not
  persisted: the first read of a directory by a reopened store infers.

A real-cluster deployment swaps in an Iceberg-backed impl of the same
interface (``MERGE``/append + snapshot metadata) via ``--packages``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import threading
import uuid
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target


def _fsync_dir(path: str) -> None:
    """Persist directory entries (renames/creates) — without this, a
    power loss can keep a fsynced FILE whose rename into the directory
    was never durably recorded."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _atomic_write(path: str, text: str) -> None:
    """tmp file + fsync + rename + parent-dir fsync: the one definition
    of durable atomic replacement, shared by HEAD updates and manifest
    rewrites so crash-safety semantics cannot drift between call sites."""
    tmp = path + f".tmp{uuid.uuid4().hex[:6]}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _fsync_dir(os.path.dirname(path))


def _jsonable(v):
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (int, float, str, bool)):
        return v
    return None


def _dir_meta(path: str) -> tuple[int, dict]:
    """(row count, zone-map stats) for one parquet directory in a SINGLE
    footer pass — min/max per top-level primitive column, merged across
    files and row groups. No Spark job, no data read.

    A column whose stats are missing or non-representable in ANY row
    group is POISONED (dropped from the zone map) rather than skipped:
    a partial range would let read_pruned discard files that do contain
    matching rows (parquet writers legitimately omit min/max, e.g. for
    oversized binary values), and absent stats mean "never prune on this
    column" — the conservative contract pruned_files already documents."""
    rows = 0
    stats: dict[str, list] = {}
    poisoned: set[str] = set()
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        md = pq.read_metadata(f)
        rows += md.num_rows
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                col = rgm.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested (spans etc.) — no zone map
                    continue
                st = col.statistics
                mn = _jsonable(st.min) if st is not None and st.has_min_max else None
                mx = _jsonable(st.max) if st is not None and st.has_min_max else None
                if mn is None or mx is None:
                    poisoned.add(name)
                    continue
                cur = stats.get(name)
                if cur is None:
                    stats[name] = [mn, mx]
                else:
                    cur[0] = min(cur[0], mn)
                    cur[1] = max(cur[1], mx)
    for name in poisoned:
        stats.pop(name, None)
    return rows, stats


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, array element and map value nullable —
    the form a parquet read returns, whatever the written frame said."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _file_schema(schema: T.StructType, partition_cols: list[str] | None) -> T.StructType:
    """The schema of a directory's parquet files: ``schema`` made
    nullable, without the hive partition columns. A read given it still
    appends the partition columns, typed by Spark's partition discovery
    (a file listing, no job) exactly as an inferring read types them — a
    ``long`` written by ``partitionBy`` reads back as ``int``."""
    skip = set(partition_cols or ())
    return _nullable(T.StructType([f for f in schema.fields if f.name not in skip]))


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A zero-row frame of ``schema`` that never starts Python: an empty
    JVM ``LocalRelation`` scans as a zero-partition ``EmptyRDD``, and the
    optimizer folds it out of joins and unions. ``spark.createDataFrame([],
    schema)`` instead parallelizes a ``PythonRDD``, so every scan of the
    "empty" table launches Python tasks."""
    js = spark._jsparkSession
    jdf = js.createDataFrame(spark._jvm.java.util.ArrayList(), js.parseDataType(schema.json()))
    return DataFrame(jdf, spark)


def is_empty_plan(df: DataFrame) -> bool:
    """True when ``df``'s plan alone bounds it to zero rows (e.g. an
    ``empty_frame``, or a projection of one). Reads the analyzed plan's
    row bound — no Spark job."""
    bound = df._jdf.queryExecution().analyzed().maxRows()
    return bool(bound.isDefined()) and bound.get() == 0


__all__ = ["SnapshotParquetStore", "Manifest", "empty_frame", "is_empty_plan"]


@dataclass
class Manifest:
    snapshot_id: int
    parent_id: int | None
    batch_id: int
    tables: dict = field(default_factory=dict)  # name -> {mode, files, rows}
    metrics: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "snapshot_id": self.snapshot_id,
                "parent_id": self.parent_id,
                "batch_id": self.batch_id,
                "tables": self.tables,
                "metrics": self.metrics,
            },
            indent=1,
        )

    @classmethod
    def from_json(cls, s: str) -> "Manifest":
        d = json.loads(s)
        return cls(d["snapshot_id"], d["parent_id"], d["batch_id"], d["tables"], d["metrics"])


class SnapshotParquetStore:
    """Versioned multi-table snapshots over plain parquet directories."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # snapshot dir (relative, as in a manifest's file list) -> the
        # ``_file_schema`` a read of it passes Spark; per instance and in
        # memory only, so the manifest (and state size) does not grow
        self._schemas: dict[str, T.StructType] = {}
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------

    def _head_path(self) -> str:
        return os.path.join(self.root, "HEAD")

    def head(self) -> Manifest | None:
        try:
            with open(self._head_path()) as f:
                name = f.read().strip()
        except FileNotFoundError:
            return None
        with open(os.path.join(self.root, "snapshots", name, "manifest.json")) as f:
            return Manifest.from_json(f.read())

    def manifest(self, snapshot_id: int) -> Manifest:
        with open(os.path.join(self.root, "snapshots", f"v{snapshot_id:06d}", "manifest.json")) as f:
            return Manifest.from_json(f.read())

    def history(self) -> list[Manifest]:
        out = []
        m = self.head()
        while m is not None:
            out.append(m)
            m = self.manifest(m.parent_id) if m.parent_id is not None else None
        return list(reversed(out))

    # -- commit ---------------------------------------------------------------

    def commit(
        self,
        batch_id: int,
        full_tables: dict[str, DataFrame],
        delta_tables: dict[str, DataFrame] | None = None,
        metrics: dict | None = None,
        partition_cols: dict[str, list[str]] | None = None,
        check: Callable[[dict], None] | None = None,
    ) -> Manifest:
        """Atomically commit one micro-batch.

        ``full_tables`` are rewritten (frontier, source_state — small or
        bucket-pruned); ``delta_tables`` append only the batch's rows and
        inherit the parent's files. Parent tables mentioned in neither
        dict carry forward verbatim (their files live under older
        snapshot dirs) — a mutation commit touching one table stays
        O(change), not O(tables). Re-committing ANY already-committed
        batch_id (== HEAD's or older — delayed redelivery) is a no-op
        returning that batch's manifest (HEAD's if it expired), so
        acks_late redelivery can never double-append delta rows.
        Single-writer store: one driver process commits at a time.

        ``partition_cols`` maps table name -> hive partition columns
        (e.g. ``{"url_seen": ["seen_bucket"]}``): those tables write
        ``partitionBy(*cols)`` so each value gets its own directory —
        the hash-bucketed layout that lets a bucket-wise reader open one
        bucket's files directly (no seen-side shuffle). The layout is
        recorded in the manifest entry; delta commits inherit the
        parent's layout when the arg is omitted, and ``read`` unions
        per-directory reads (Spark refuses one multi-root partitioned
        read: CONFLICTING_DIRECTORY_STRUCTURES).

        A delta table whose plan is provably empty (``is_empty_plan``,
        e.g. an ``empty_frame``) is recorded without a Spark write.

        The tables are written at the same time, one thread per table,
        into the staging dir. The commit waits for every write; if any
        failed it re-raises the first failing table's exception unchanged
        (in ``full_tables`` then ``delta_tables`` order) and removes the
        staging dir — atomicity is the same as for one write at a time.

        ``check``, if given, gets the new manifest's table entries after
        every write and before the manifest is written; whatever it raises
        aborts the commit as a failed write does (staging removed, HEAD
        unchanged) and propagates.
        """
        head = self.head()
        if head is not None and batch_id <= head.batch_id:
            m = head
            while m is not None and m.batch_id > batch_id:
                m = self.manifest(m.parent_id) if m.parent_id is not None else None
            return m if (m is not None and m.batch_id == batch_id) else head
        delta_tables = delta_tables or {}
        snap_id = (head.snapshot_id + 1) if head else 1
        name = f"v{snap_id:06d}"
        tmp = os.path.join(self.root, "snapshots", f"_tmp_{uuid.uuid4().hex[:8]}")
        final = os.path.join(self.root, "snapshots", name)
        # a dir already at `final` is the orphan of a commit that crashed
        # between its rename and the HEAD update (HEAD still points at the
        # parent, so snap_id collides) — remove it or the store is wedged
        # forever with ENOTEMPTY on every retry
        if os.path.exists(final):
            shutil.rmtree(final)
        os.makedirs(tmp)
        tables: dict[str, dict] = {}
        pcols = partition_cols or {}
        parents = {
            tname: (head.tables.get(tname) if head else None) or {"files": [], "rows": 0}
            for tname in delta_tables
        }
        # a delta append inherits the parent's layout: mixing partitioned
        # and flat directories under one table would break both the union
        # read and the bucket-wise reader
        cols_of = {tname: pcols.get(tname) for tname in full_tables}
        for tname in delta_tables:
            cols_of[tname] = pcols.get(tname) or parents[tname].get("partition_cols")
        try:
            writes = {tname: (df, cols_of[tname]) for tname, df in full_tables.items()}
            for tname, df in delta_tables.items():
                # a provably empty delta gets the manifest entry a 0-row
                # write would produce, without the write or its directory
                if not is_empty_plan(df):
                    writes[tname] = (df, cols_of[tname])
            meta = self._write_tables(tmp, writes)
            for tname in full_tables:
                cols = cols_of[tname]
                rows, dstats = meta[tname]
                rel = os.path.join(name, tname)
                # an empty PARTITIONED write leaves no parquet files at
                # all (no bucket dirs to hold them) — record no files so
                # reads return None (callers' documented empty-table
                # path) instead of failing schema inference on the dir
                files = [] if (cols and rows == 0) else [rel]
                tables[tname] = {
                    "mode": "full",
                    "files": files,
                    "rows": rows,
                    "stats": {rel: dstats} if files else {},
                }
                if cols:
                    tables[tname]["partition_cols"] = list(cols)
            for tname in delta_tables:
                parent_entry = parents[tname]
                cols = cols_of[tname]
                rows, dstats = meta.get(tname, (0, {}))
                files = list(parent_entry["files"])
                stats = dict(parent_entry.get("stats", {}))
                if rows > 0:
                    rel = os.path.join(name, tname)
                    files.append(rel)
                    stats[rel] = dstats
                tables[tname] = {
                    "mode": "delta",
                    "files": files,
                    "rows": parent_entry["rows"] + rows,
                    "delta_rows": rows,
                    "stats": stats,
                }
                if cols:
                    tables[tname]["partition_cols"] = list(cols)
            if head is not None:
                for tname, entry in head.tables.items():
                    if tname not in tables:
                        carried = dict(entry)
                        carried.pop("delta_rows", None)
                        tables[tname] = carried
            if check is not None:
                check(tables)
            man = Manifest(snap_id, head.snapshot_id if head else None, batch_id, tables, metrics or {})
            with open(os.path.join(tmp, "manifest.json"), "w") as f:
                f.write(man.to_json())
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, final)
            _fsync_dir(os.path.dirname(final))  # persist the rename itself
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        for tname, (df, cols) in writes.items():
            self._schemas[os.path.join(name, tname)] = _file_schema(df.schema, cols)
        _atomic_write(self._head_path(), name)
        return man

    def _write_tables(
        self, tmp: str, writes: dict[str, tuple[DataFrame, list[str] | None]]
    ) -> dict[str, tuple[int, dict]]:
        """Write each ``table -> (frame, partition cols)`` to
        ``tmp/<table>`` at the same time, one thread per table; returns
        ``table -> (rows, zone-map stats)``. Every write finishes before
        this returns or raises, so the caller's cleanup of ``tmp`` never
        races a writer; if any failed, the first failing table's own
        exception (in ``writes`` order) is re-raised unchanged."""
        results: dict[str, object] = {}

        def write(tname: str, df: DataFrame, cols: list[str] | None) -> None:
            try:
                path = os.path.join(tmp, tname)
                writer = df.write.partitionBy(*cols) if cols else df.write
                writer.mode("overwrite").parquet(path)
                results[tname] = _dir_meta(path)
            except BaseException as e:
                results[tname] = e

        # one wrapper per thread: each captures its own copy of the
        # caller's local properties (job group, description), which Spark
        # then mutates per thread while it runs that thread's write
        threads = [
            threading.Thread(
                target=inheritable_thread_target(self.spark)(write),
                args=(tname, df, cols),
                name=f"commit-{tname}",
            )
            for tname, (df, cols) in writes.items()
        ]
        for th in threads:
            th.start()
        try:
            for th in threads:
                th.join()
        except BaseException:
            # interrupted while waiting: let the writes land before the
            # caller removes the staging dir under them
            for th in threads:
                th.join()
            raise
        for tname in writes:
            if isinstance(results[tname], BaseException):
                raise results[tname]
        return results

    # -- compaction -----------------------------------------------------------

    def compact(
        self, table: str, n_files: int = 1, extra_metrics: dict | None = None
    ) -> Manifest:
        """Rewrite a delta table's accumulated per-batch files into one
        coalesced file set and commit it as a new snapshot (event:
        compact). Bounds the file-count growth of long drains — a
        10^4-batch crawl otherwise accumulates one directory per batch
        per delta table. Reads are byte-identical afterwards; lineage
        survives (the compaction is a normal child snapshot and older
        manifests still reference the original files, so time travel
        keeps working); subsequent delta commits append on top of the
        compacted file set."""
        head = self.head()
        if head is None or table not in head.tables:
            raise KeyError(f"no such table at HEAD: {table}")
        df = self.read(table)
        if df is None:  # zero files: nothing to compact
            return head
        cols = head.tables[table].get("partition_cols")
        if cols:
            # preserve the bucketed layout; hash-distributing the
            # partition cols over n_files tasks lands each bucket in
            # exactly one task => ~one file per bucket, not n_files*B
            from pyspark.sql import functions as F

            out = df.repartition(n_files, *[F.col(c) for c in cols])
        else:
            out = df.coalesce(n_files)
        return self.commit(
            batch_id=head.batch_id + 1,
            full_tables={table: out},
            metrics={**(extra_metrics or {}), "event": "compact", "table": table},
            partition_cols={table: cols} if cols else None,
        )

    # -- read -----------------------------------------------------------------

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame | None:
        """Read a table at HEAD (or a given snapshot — time travel)."""
        man = self.head() if snapshot_id is None else self.manifest(snapshot_id)
        if man is None or table not in man.tables:
            return None
        entry = man.tables[table]
        if not entry["files"]:
            return None
        return self._scan(entry, entry["files"])

    def _scan(self, entry: dict, rels: list[str]) -> DataFrame:
        """One frame over the snapshot dirs ``rels`` of the table whose
        manifest entry is ``entry``. Spark gets the file schema from the
        in-memory map, so the read runs no job; on a miss (a dir this
        instance did not commit) Spark infers it once and the map keeps
        it."""
        cols = entry.get("partition_cols")
        if cols and len(rels) > 1:
            # Spark refuses one read over multiple partitioned roots
            # (CONFLICTING_DIRECTORY_STRUCTURES); union per-dir reads —
            # each dir's hive layout discovers the partition column
            return functools.reduce(
                DataFrame.unionByName, [self._scan(entry, [rel]) for rel in rels]
            )
        paths = [os.path.join(self.root, "snapshots", rel) for rel in rels]
        schema = self._schemas.get(rels[0])
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*paths)
        df = self.spark.read.parquet(*paths)
        for rel in rels:
            self._schemas.setdefault(rel, _file_schema(df.schema, cols))
        return df

    def expire_snapshots(self, keep_last: int = 10) -> dict:
        """Iceberg-style snapshot retention: keep the most recent
        ``keep_last`` manifests (HEAD's ancestry) and delete older
        snapshot DIRECTORIES that no kept manifest references.

        Delta tables make this subtle: a kept manifest's file list spans
        many older snapshot dirs (each delta commit's files live under
        its own dir), so expiration computes the union of files
        referenced by every KEPT manifest and only removes dirs outside
        it — time travel within the kept window keeps working, reads are
        untouched, and a compaction followed by expire_snapshots
        reclaims the pre-compaction delta dirs' space. Returns
        {"kept": n, "deleted_dirs": [...]}. Resume-safe: HEAD and its
        manifest chain are rewired so history() stops at the oldest kept
        snapshot. Also sweeps orphaned ``_tmp_*`` staging dirs and
        ``HEAD.tmp*`` files left by hard kills mid-commit (single-writer
        store: nothing else can be mid-commit while this runs)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (HEAD must survive)")
        snap_root = os.path.join(self.root, "snapshots")
        deleted: list[str] = []
        for d in sorted(os.listdir(snap_root)):
            if d.startswith("_tmp_"):
                shutil.rmtree(os.path.join(snap_root, d), ignore_errors=True)
                deleted.append(d)
        for f in sorted(os.listdir(self.root)):
            if f.startswith("HEAD.tmp"):
                os.unlink(os.path.join(self.root, f))
                deleted.append(f)
        # a crash between _atomic_write's tmp write and os.replace leaves
        # manifest.json.tmp* INSIDE a (possibly kept) vNNNNNN dir; sweep
        # those too or one junk file per crash survives retention forever
        for d in sorted(os.listdir(snap_root)):
            dpath = os.path.join(snap_root, d)
            if not (d.startswith("v") and os.path.isdir(dpath)):
                continue
            for f in os.listdir(dpath):
                if f.startswith("manifest.json.tmp"):
                    os.unlink(os.path.join(dpath, f))
                    deleted.append(os.path.join(d, f))
        # the unreferenced-dir sweep runs even when history is already
        # short: a crash mid-sweep on a previous expire can leave dead
        # v-dirs behind with history == keep_last, which an early return
        # would then never reclaim
        history = self.history()
        if not history:
            return {"kept": 0, "deleted_dirs": deleted}
        kept = history[-keep_last:]
        referenced: set[str] = set()
        for man in kept:
            name = f"v{man.snapshot_id:06d}"
            referenced.add(name)
            for entry in man.tables.values():
                for rel in entry["files"]:
                    referenced.add(rel.split(os.sep, 1)[0])
        # oldest kept manifest becomes the new root of the chain
        oldest = kept[0]
        if oldest.parent_id is not None:
            oldest = Manifest(
                oldest.snapshot_id, None, oldest.batch_id, oldest.tables, oldest.metrics
            )
            mpath = os.path.join(
                self.root, "snapshots", f"v{oldest.snapshot_id:06d}", "manifest.json"
            )
            _atomic_write(mpath, oldest.to_json())
        for d in sorted(os.listdir(snap_root)):
            if d.startswith("v") and d not in referenced:
                shutil.rmtree(os.path.join(snap_root, d), ignore_errors=True)
                deleted.append(d)
        return {"kept": len(kept), "deleted_dirs": deleted}

    def pruned_files(
        self,
        table: str,
        col: str,
        lo,
        hi,
        snapshot_id: int | None = None,
    ) -> list[str] | None:
        """Manifest-level zone-map pruning: the subset of a table's file
        groups whose [min, max] for ``col`` overlaps [lo, hi]. Groups with
        no recorded stats for the column are kept (conservative). None if
        the table is absent."""
        man = self.head() if snapshot_id is None else self.manifest(snapshot_id)
        if man is None or table not in man.tables:
            return None
        entry = man.tables[table]
        stats = entry.get("stats", {})
        kept = []
        for rel in entry["files"]:
            rng = stats.get(rel, {}).get(col)
            if rng is None or not (hi < rng[0] or lo > rng[1]):
                kept.append(rel)
        return kept

    def read_pruned(
        self,
        table: str,
        col: str,
        lo,
        hi,
        snapshot_id: int | None = None,
    ) -> DataFrame | None:
        """Read only the file groups that can contain ``col BETWEEN lo AND
        hi``, with the residual filter applied. At 10^4 delta batches a
        point lookup (e.g. one url_hash bucket, one batch_id) opens the
        matching directories instead of every batch's — the manifest is
        the index, exactly the role Iceberg manifests play; parquet
        row-group stats then prune further inside each file. Returns None
        when no group can match (callers treat as empty, same contract as
        an empty delta table)."""
        from pyspark.sql import functions as F

        rels = self.pruned_files(table, col, lo, hi, snapshot_id)
        if not rels:
            return None
        man = self.head() if snapshot_id is None else self.manifest(snapshot_id)
        return self._scan(man.tables[table], rels).filter(F.col(col).between(lo, hi))

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
