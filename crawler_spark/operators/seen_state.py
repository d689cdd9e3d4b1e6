"""URL-seen state for a long-running frontier drain — the product form of
the state discipline tools/scale_frontier_loop.py measures at 10^9.

One `SeenState` owns two tables in a SnapshotParquetStore:

- ``url_seen`` (delta): URL rows, hash-bucketed into ``seen_bucket=<b>``
  hive directories — the exact side of the membership check. Batches
  append to it; :meth:`delete_urls` rewrites it without the deleted
  URLs.
- ``seen_cuckoo`` (full): the partitioned cuckoo-filter blobs
  (operators/cuckoo.py), the prefilter side. :meth:`anti_join` resolves
  all candidates in one bucket-ordered pass: it probes each bucket's
  filter part and opens the bucket's files only for maybe-seen rows, so
  neither table is shuffled. Each batch's URLs are inserted
  incrementally; when HEAD's manifest shows the filter's ``load`` past
  ``rebuild_fill``, or the written ``overflow`` column is set, the commit
  rebuilds the filter wider from the seen table (amortized O(1)), and
  :meth:`delete_urls` evicts fingerprints, so a deleted source's URLs
  stop probing maybe-seen without a rebuild.

A delete changes both tables in the one commit, so no committed state
has a URL evicted from the filter but still in ``url_seen``, or the
reverse. Both come from one Arrow pass placed by filter part: only the
deletion candidates are shuffled, each bucket's files are read once,
and the seen table is never shuffled.

Committing through the store (rather than chaining ``persist()`` handles
or ad-hoc parquet dirs) buys the drain loop what the crawl engine's
tables already have: atomic per-batch commits, exact resume from HEAD,
idempotent redelivery (re-committing an old batch_id is a no-op — new
URLs can never double-append), snapshot history/expiry, and lineage cut
at every batch boundary (the cached-chain recompute failure measured in
the 10^9 run cannot occur, because each batch reads the previous batch's
blobs from committed files).

A store opens only with the settings it was written with. Every commit
SeenState writes records the layout (``n_parts``, ``bucketed_parts``,
``filter_kind``, ``url_col``) and the filter width next to the logical
batch id, and the constructor compares HEAD's layout record with its own
settings once, raising :class:`SeenStateMismatch` on any difference —
including a store written by an earlier version with a flat ``url_seen``
or a Bloom filter. A mismatched open would probe the wrong filter partitions or bucket
directories, tag already-seen URLs definitely-new and re-schedule them —
the one error the two-tier check cannot absorb. A store that an earlier
version left with deletes pending (rows in its ``url_deleted`` tombstone
table, not yet purged) refuses too: its filter has already evicted those
URLs, but ``url_seen`` still holds them.

Reference contrast: the reference's URL-seen is a per-crawl in-memory
``set`` lost on crash (the reference's backend/domain/entities.py:153);
this is its 10^10-frontier replacement.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..state import Manifest, SnapshotParquetStore, empty_frame
from .cuckoo import (
    BUCKET_SLOTS,
    CUCKOO_SCHEMA,
    CuckooOverflowError,
    _delete_from_table,
    _filter_row,
    _probe_table,
    build_cuckoo,
    cuckoo_hash_fp,
    insert_into_cuckoo,
)

__all__ = ["SeenState", "SeenStateMismatch"]


def _stat_max(entry: dict, col: str):
    """A manifest table entry's zone-map max of ``col``, or None if absent."""
    maxes = [s[col][1] for s in entry.get("stats", {}).values() if col in s]
    return max(maxes) if maxes else None


def _filter_table(cdir: str | None, p: int):
    """Filter part ``p``'s committed table, read from the ``seen_cuckoo``
    dir ``cdir`` on an executor, as a read-only (buckets, slots) uint16
    array; None when the part has no blob (or there is no filter)."""
    import pyarrow.parquet as pq

    if cdir is None:
        return None
    blob = pq.read_table(cdir, columns=["blob"], filters=[("cuckoo_part", "=", p)])
    if not blob.num_rows:
        return None
    return np.frombuffer(blob.column(0)[0].as_py(), np.uint16).reshape(-1, BUCKET_SLOTS)


class SeenStateMismatch(ValueError):
    """A store was opened with settings other than the ones it was
    written with (or its HEAD carries no layout record)."""


class SeenState:
    TABLE_SEEN = "url_seen"
    TABLE_CUCKOO = "seen_cuckoo"

    BUCKET_COL = "seen_bucket"

    METRIC_LOGICAL = "seen_logical_batch"
    METRIC_LAYOUT = "seen_layout"
    METRIC_WIDTH = "seen_filter_buckets"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_parts: int = 64,
        expected_keys: int = 10_000_000,
        rebuild_fill: float = 0.5,
        bucketed_parts: int | None = None,
        write_tasks: int = 64,
        filter_kind: str = "cuckoo",
    ):
        """``n_parts`` is the number of cuckoo-filter partitions (one blob
        each). ``expected_keys`` sizes a fresh store's filter (slots for
        the expected seen URLs at ~LOAD_FACTOR occupancy with headroom);
        undersizing is safe — when the committed filter's slot load
        exceeds ``rebuild_fill``, or an insert overflows,
        ``commit_batch`` rebuilds the filter sized for seen + batch.
        On resume the width comes from HEAD's manifest, so
        ``expected_keys`` only matters for a fresh store. The url column
        is ``url``.

        ``bucketed_parts`` (B, default ``n_parts``) is the number of
        url_seen bucket directories: rows land under
        ``seen_bucket=<pmod(xxhash64(url,2),B)>`` and :meth:`anti_join`
        resolves a candidate slice bucket-wise in one wave of
        T = min(B, default parallelism) tasks, task t holding exactly the
        buckets b with b mod T == t — each task opens its buckets'
        parquet files directly (pyarrow), so the accumulated seen table
        is never shuffled; only the candidate slice is. B must be a
        multiple of ``n_parts``, and the bucket hash is the filter's
        partition hash (seed 2), so bucket % n_parts == filter part:
        bucket dirs refine the filter partitioning. ``write_tasks`` caps
        ``commit_batch``'s writer fan-out: new rows go to
        min(``write_tasks``, B) tasks, each bucket's to one task (~B files
        per commit, not tasks*B). A delete's rewrite is placed by filter
        part instead (see :meth:`delete_urls`).

        ``filter_kind`` accepts only ``"cuckoo"``; it stays a parameter so
        the layout record names the filter. Cuckoo supports deletion:
        :meth:`delete_urls` evicts fingerprints, so ``delete_source`` at
        drain scale keeps the prefilter truthful without a rebuild
        (reference analog: page rows deleted with their source, the
        reference's backend/service/services.py:317-324).

        ``n_parts``, ``bucketed_parts`` and ``filter_kind`` fix the
        store's layout: reopening a committed store with any of
        them changed raises :class:`SeenStateMismatch` here, before any
        read or write. ``expected_keys``, ``rebuild_fill`` and
        ``write_tasks`` only tune a fresh store or future commits and may
        differ between opens."""
        if filter_kind != "cuckoo":
            raise ValueError(f"filter_kind must be 'cuckoo', got {filter_kind!r}")
        if bucketed_parts is None:
            bucketed_parts = n_parts
        if bucketed_parts % n_parts != 0:
            raise ValueError(
                f"bucketed_parts ({bucketed_parts}) must be a multiple of "
                f"n_parts ({n_parts}) so bucket % n_parts == filter part"
            )
        self.spark = spark
        self.store = SnapshotParquetStore(spark, root)
        self.n_parts = n_parts
        self.rebuild_fill = rebuild_fill
        self.bucketed_parts = bucketed_parts
        self.write_tasks = write_tasks
        self.filter_kind = filter_kind
        # slots for expected_keys at ~LOAD_FACTOR-with-headroom occupancy,
        # power-of-two buckets per partition
        nb_need = max(256, expected_keys // max(n_parts, 1) // (BUCKET_SLOTS * 2) * 3)
        self._initial_buckets = 1 << (nb_need - 1).bit_length()
        self._empty = empty_frame(spark, T.StructType([T.StructField("url", T.StringType())]))
        self._task_keys: dict[int, dict[int, int]] = {}  # T -> {t: key hashed to task t}
        self._paths = None  # (snapshot id, broadcast of its paths), see _paths_bcast
        self._layout = {
            "n_parts": n_parts,
            "bucketed_parts": bucketed_parts,
            "filter_kind": filter_kind,
            "url_col": "url",
        }
        head = self.store.head()
        if head is not None and head.tables:
            got = head.metrics.get(self.METRIC_LAYOUT)
            if got != self._layout:
                raise SeenStateMismatch(
                    f"store at {root!r} was written with layout {got} but is "
                    f"opened with {self._layout}; open it with the settings "
                    "it was written with"
                )
            if head.tables.get("url_deleted", {}).get("rows", 0):
                raise SeenStateMismatch(
                    f"store at {root!r} has deletes pending in 'url_deleted', "
                    "written by an earlier version; purge them with that "
                    "version's apply_deletes before opening it here"
                )

    def _stamp(self, bid: int, metrics: dict | None = None, width: int | None = None) -> dict:
        """Commit metrics carrying the logical batch id, the layout record
        and the filter width (``width``, default HEAD's) — every commit
        SeenState writes goes through here, so HEAD always holds all
        three (see ``last_logical``, ``_width`` and the open-time check
        in ``__init__``)."""
        return {
            **(metrics or {}),
            self.METRIC_LOGICAL: bid,
            self.METRIC_LAYOUT: self._layout,
            self.METRIC_WIDTH: self._width() if width is None else width,
        }

    def _width(self) -> int:
        """Buckets per filter partition, as HEAD records it. A fresh store,
        or one written before the width was recorded, gets the initial
        width: it sizes only a partition that has no table yet, because
        every insert and probe takes an existing table's own width."""
        head = self.store.head()
        width = head.metrics.get(self.METRIC_WIDTH) if head else None
        return int(width) if width else self._initial_buckets

    @staticmethod
    def _part_expr(url_col: str, modulus: int):
        """THE layout hash: seed 2 == add_cuckoo_keys' part hash. Every
        bucket/part derivation in this class MUST go through here — the
        contract bucket % n_parts == cuckoo_part holds only while the
        expression is byte-identical everywhere."""
        return F.pmod(F.xxhash64(url_col, F.lit(2)), F.lit(modulus)).cast("int")

    def _bucket_expr(self):
        # with B a multiple of n_parts, h mod n_parts == (h mod B) mod
        # n_parts, so bucket dirs refine the filter partitioning
        return self._part_expr("url", self.bucketed_parts)

    # -- reads ----------------------------------------------------------------

    def batch_id(self) -> int:
        head = self.store.head()
        return head.batch_id if head else 0

    def last_logical(self) -> int:
        """The last LOGICAL batch id committed through ``commit_batch`` —
        the caller-facing counter the idempotent-redelivery guard checks.

        The store's ``batch_id`` counts COMMITS, and SeenState itself
        commits internally (a delete, a compaction), so the two
        namespaces diverge: a caller supplying its own sequential
        batch_ids — the exact use case the redelivery contract invites —
        would otherwise have the first fresh batch after any
        rebuild/compaction silently classified as redelivered (its URLs
        never entering the seen state, re-scheduled forever). Every
        commit SeenState writes therefore carries the current logical id
        in its metrics (``_stamp``), so HEAD always records it, even after
        ``expire(keep_last=2)`` drops the data commit that introduced it
        — one manifest read, O(1) per commit."""
        head = self.store.head()
        return int(head.metrics.get(self.METRIC_LOGICAL, 0)) if head else 0

    def seen(self) -> DataFrame:
        """The exact membership side: every committed url. A deleted
        source's URLs are gone from it (``delete_urls`` rewrites the
        table), so they are re-crawlable, exactly the reference's
        delete-pages-with-source semantics."""
        df = self.store.read(self.TABLE_SEEN)
        return df if df is not None else self._empty

    def blobs(self) -> DataFrame:
        """Committed cuckoo-filter blobs (a zero-partition JVM frame before
        the first commit — the prefilter treats a missing blob as
        maybe_seen=false, the insert builds a missing partition's table,
        and the exact side is equally empty, so batch 0 just works)."""
        df = self.store.read(self.TABLE_CUCKOO)
        if df is not None:
            return df
        return empty_frame(self.spark, T.DataType.fromDDL(CUCKOO_SCHEMA))

    def fill(self) -> DataFrame:
        """Filter geometry and load per partition — columns
        (cuckoo_part, n_buckets, slots_used, fill), where ``fill`` is
        the written ``load`` column that ``rebuild_fill`` is compared
        against (null for a filter written before that column existed).
        A projection: no Python runs."""
        blobs = self.blobs()
        load = F.col("load") if "load" in blobs.columns else F.lit(None).cast("double")
        slots = F.length("blob") / 2
        return blobs.select(
            "cuckoo_part",
            (slots / BUCKET_SLOTS).cast("long").alias("n_buckets"),
            F.round(load * slots).cast("long").alias("slots_used"),
            load.alias("fill"),
        )

    def bucket_files(self) -> dict[int, list[str]]:
        """bucket id -> absolute parquet paths across every committed
        directory of url_seen (driver-side directory listing over the
        manifest's file list — no Spark job). After a ``compact`` or a
        ``delete_urls`` the list is one directory; between them it is one
        per batch."""
        head = self.store.head()
        out: dict[int, list[str]] = {}
        if head is None or self.TABLE_SEEN not in head.tables:
            return out
        for rel in head.tables[self.TABLE_SEEN]["files"]:
            base = os.path.join(self.store.root, "snapshots", rel)
            for d in glob.glob(os.path.join(base, f"{self.BUCKET_COL}=*")):
                b = int(d.rsplit("=", 1)[1])
                out.setdefault(b, []).extend(glob.glob(os.path.join(d, "*.parquet")))
        return out

    def _paths_bcast(self):
        """HEAD's ``(bucket_files(), seen_cuckoo dir)`` as a broadcast, the
        dir None when the filter has no rows — what ``anti_join`` and
        ``delete_urls``' tasks open with pyarrow. One live broadcast per
        snapshot epoch: a drain loop calls both every batch, and an
        un-released broadcast per call pins the path lists in every JVM of
        the application for the run's lifetime."""
        head = self.store.head()
        snap = head.snapshot_id if head else None
        cached = self._paths
        if cached is None or cached[0] != snap:
            if cached is not None:
                # unpersist (not destroy): a not-yet-evaluated plan from
                # the previous epoch can still fetch the value again
                try:
                    cached[1].unpersist()
                except Exception:
                    pass
            entry = head.tables.get(self.TABLE_CUCKOO) if head else None
            cdir = None
            if entry and entry["rows"]:
                (crel,) = entry["files"]  # a full table: one dir
                cdir = os.path.join(self.store.root, "snapshots", crel)
            paths = (self.bucket_files(), cdir)
            cached = self._paths = (snap, self.spark.sparkContext.broadcast(paths))
        return cached[1]

    def anti_join(self, candidates: DataFrame, url_col: str = "url") -> DataFrame:
        """Exact ``candidates LEFT ANTI JOIN url_seen ON url`` in one Arrow
        pass that owns its cuckoo prefilter: only the candidates are
        shuffled, never the seen or the filter table.

        Each candidate's bucket (``_part_expr``) and filter hash and
        fingerprint (``cuckoo_hash_fp``) are computed once on the JVM.
        Candidates go to T = min(B, default parallelism) tasks, task t
        holding exactly the buckets b with b mod T == t (``_task_map``),
        so the resolve is one balanced wave: no task starts Python for an
        empty partition. Within a task they are sorted by (filter part,
        bucket). Placement moves only load, never the result: a task
        walks whatever bucket runs it is given. Per bucket run, the task
        probes its part's filter table, read from the committed ``seen_cuckoo``
        files; only maybe-seen rows open the bucket's seen files
        (pyarrow, ~|seen|/B rows) for one exact ``is_in`` on full
        URLs. A task holds one filter table and one bucket at a time;
        buckets whose candidates all probe definitely-new are never read.
        The reference analog is the in-memory ``set`` lookup (the
        reference's backend/domain/entities.py:153,158-159); a real
        cluster swaps this for an Iceberg bucket-partitioned
        storage-partitioned join, same layout contract. ``url_col`` names
        the candidates' url column."""
        bc = self._paths_bcast()
        if not bc.value[0]:
            return candidates
        out_schema = candidates.schema
        names = [f.name for f in out_schema.fields]
        n_parts = self.n_parts
        ch, fp = cuckoo_hash_fp(url_col)
        n_tasks = min(self.bucketed_parts, self.spark.sparkContext.defaultParallelism)
        keyed = (
            candidates.withColumn("_sb", self._part_expr(url_col, self.bucketed_parts))
            .withColumn("_ch", ch)
            .withColumn("_fp", fp)
            .repartition(
                n_tasks,
                F.element_at(self._task_map(n_tasks), F.pmod("_sb", F.lit(n_tasks))),
            )
            .sortWithinPartitions(F.pmod("_sb", F.lit(n_parts)), "_sb")
        )

        def _aj(batches):
            # mapInArrow, not applyInPandas: candidate strings stay Arrow
            # buffers end to end (pandas object materialization anti-
            # scales on allocator contention)
            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            seen_files, cdir = bc.value
            table: tuple = (-1, None)  # (filter part, its table; None = no blob, all new)
            held: tuple = (-1, None)  # (bucket, its live urls)

            def _bucket_set(b: int):
                urls = pq.read_table(seen_files[b], columns=["url"]).column("url")
                return urls.combine_chunks()

            for rb in batches:
                sb = rb.column("_sb").to_numpy()
                hs, fps = rb.column("_ch").to_numpy(), rb.column("_fp").to_numpy()
                seen_mask = np.zeros(len(sb), dtype=bool)
                starts = np.flatnonzero(np.diff(sb, prepend=-1))  # bucket runs
                for lo, hi in zip(starts, np.r_[starts[1:], len(sb)]):
                    b = int(sb[lo])
                    if not seen_files.get(b):
                        continue  # nothing committed in this bucket
                    if table[0] != b % n_parts:
                        table = None  # release the previous table before reading
                        table = (b % n_parts, _filter_table(cdir, b % n_parts))
                    if table[1] is None:
                        continue
                    maybe = lo + np.flatnonzero(_probe_table(table[1], hs[lo:hi], fps[lo:hi]))
                    if not len(maybe):
                        continue  # all definitely new: the bucket stays unread
                    if held[0] != b:
                        held = None  # release the previous bucket before reading
                        held = (b, _bucket_set(b))
                    seen_mask[maybe] = pc.is_in(
                        rb.column(url_col).take(pa.array(maybe)), value_set=held[1]
                    ).to_numpy(zero_copy_only=False)
                yield pa.RecordBatch.from_arrays(
                    [rb.column(n) for n in names], names=names
                ).filter(pa.array(~seen_mask))

        return keyed.mapInArrow(_aj, out_schema)

    def _task_map(self, n_tasks: int):
        """A literal map t -> k_t with ``pmod(hash(k_t), n_tasks) == t``:
        ``repartition(n_tasks, element_at(map, t))`` then sends every row
        keyed t to task t, because ``HashPartitioning`` places a row by the
        same Murmur3 (seed 42) that ``F.hash`` computes. The keys are found
        once per ``n_tasks`` by hashing a small int32 ``LocalRelation`` —
        the optimizer folds the projection on the driver, so no Spark job
        runs — and cached."""
        keys = self._task_keys.get(n_tasks)
        if keys is None:
            cands = pd.DataFrame({"k": pd.array(range(64 * n_tasks), dtype="int32")})
            rows = (
                self.spark.createDataFrame(cands)
                .select("k", F.pmod(F.hash("k"), F.lit(n_tasks)).alias("t"))
                .collect()
            )
            keys = {}
            for r in rows:  # 64 candidates per task: every t gets a key
                keys.setdefault(r.t, r.k)
            self._task_keys[n_tasks] = keys
        return F.create_map(*[F.lit(x) for t in range(n_tasks) for x in (t, keys[t])])

    # -- writes ---------------------------------------------------------------

    def commit_batch(
        self,
        new_seen: DataFrame,
        batch_id: int | None = None,
        metrics: dict | None = None,
    ) -> tuple[Manifest, dict]:
        """Commit one batch's newly-seen URLs: append them to the bucketed
        ``url_seen`` and insert them into the cuckoo filter, atomically in
        one commit. Returns (manifest, info) — info reports ``rebuilt``
        and the filter's ``n_buckets``.

        No job runs before the write: the width and the committed
        filter's max ``load`` come from HEAD's manifest. Past
        ``rebuild_fill`` there is no insert; otherwise the insert commits
        under ``_check_filter``, which raises ``CuckooOverflowError`` on
        the driver if a key failed its kick walk, and the store discards
        the staged commit. Either way the filter is then rebuilt from
        seen + batch, sized by ``_wider``, and committed once with the
        batch under the same check (``event: "filter_rebuild"``).

        ``new_seen`` must carry a ``url`` column and be deduplicated
        against the current seen set (schedule_batch output already is —
        that is what scheduling MEANS); re-appending an already-seen URL
        is harmless for membership but inflates the seen table.
        Re-committing an already-committed batch_id is a no-op (guarded
        on the LOGICAL counter, see ``last_logical`` — the store's own
        batch_id also counts internal delete/compact commits, so it
        cannot be the redelivery namespace)."""
        head = self.store.head()
        last = self.last_logical()
        bid = batch_id if batch_id is not None else last + 1
        if head is not None and bid <= last:
            return head, {"redelivered": True}
        new_urls = self._clustered(new_seen)
        # the insert reads the unclustered keys: new_urls' bucket shuffle
        # serves only the url_seen write
        new_keys = new_seen.select("url")
        nb = self._width()

        def _commit(filt: DataFrame, width: int, extra: dict | None = None) -> Manifest:
            return self.store.commit(
                head.batch_id + 1 if head else 1,
                full_tables={self.TABLE_CUCKOO: filt},
                delta_tables={self.TABLE_SEEN: new_urls},
                metrics=self._stamp(bid, {**(metrics or {}), **(extra or {})}, width),
                partition_cols={self.TABLE_SEEN: [self.BUCKET_COL]},
                check=self._check_filter,
            )

        # a filter committed before the load column has no load stat: it
        # counts as not past rebuild_fill, and the overflow check guards it
        load = _stat_max(head.tables.get(self.TABLE_CUCKOO, {}), "load") if head else None
        if load is None or load <= self.rebuild_fill:
            try:
                filt = insert_into_cuckoo(self.blobs(), new_keys, nb, n_parts=self.n_parts)
                return _commit(filt, nb), {"rebuilt": False, "n_buckets": nb}
            except CuckooOverflowError:
                pass
        all_keys = self.seen().select("url").unionByName(new_keys)
        nb = self._wider(nb, all_keys.count())
        filt = build_cuckoo(all_keys, n_parts=self.n_parts, n_buckets=nb)
        return _commit(filt, nb, {"event": "filter_rebuild"}), {"rebuilt": True, "n_buckets": nb}

    def _check_filter(self, tables: dict) -> None:
        """``store.commit``'s check: refuse a written filter with rows whose
        ``overflow`` max is true or missing — it may have lost a key."""
        entry = tables[self.TABLE_CUCKOO]
        if entry["rows"] and _stat_max(entry, "overflow") is not False:
            raise CuckooOverflowError(f"a {self.TABLE_CUCKOO} partition overflowed")

    def _clustered(self, urls: DataFrame) -> DataFrame:
        """``commit_batch``'s new urls plus their bucket, clustered by bucket
        BEFORE the partitioned append to url_seen: W = min(``write_tasks``,
        B) writers, writer w holding exactly the buckets b with
        b mod W == w (``_task_map``, as in ``anti_join``), so each bucket's
        files come from one task (~B files per commit instead of tasks*B
        splinters) and no writer is left empty while another carries
        several buckets. ``delete_urls`` does not come here: its pass
        already holds each bucket on one task."""
        n_tasks = min(self.write_tasks, self.bucketed_parts)
        return (
            urls.select("url")
            .withColumn(self.BUCKET_COL, self._bucket_expr())
            .repartition(
                n_tasks,
                F.element_at(
                    self._task_map(n_tasks), F.pmod(self.BUCKET_COL, F.lit(n_tasks))
                ),
            )
        )

    def _wider(self, nb: int, n_keys: int) -> int:
        """Buckets per partition for a rebuild: at least double, and
        enough for ``n_keys`` at half load; a power of two."""
        need = max(nb * 2, n_keys // max(self.n_parts, 1) // BUCKET_SLOTS * 2)
        return 1 << (need - 1).bit_length()

    def delete_urls(
        self, urls: DataFrame, metrics: dict | None = None
    ) -> tuple[Manifest, dict]:
        """Remove URLs from the seen state (the drain-scale form of the
        reference's delete-source-cascades-to-pages, the reference's
        backend/service/services.py:317-324) in ONE commit: rewrite
        ``url_seen`` without them, so they are immediately re-crawlable,
        and evict their fingerprints from the cuckoo blobs, so the maybe
        slice stays truthful WITHOUT a rebuild.

        One pass does both. The JVM keys each candidate (``url`` of
        ``urls``; nulls dropped) with its bucket and filter hash and
        fingerprint, adds one marker row per bucket, and sends the rows
        to T = min(``n_parts``, default parallelism) tasks: task t owns
        the filter parts p with p mod T == t and every bucket of those
        parts (b mod ``n_parts`` == p), sorted by (part, bucket). Per
        owned part, the task reads the part's committed filter table;
        per owned bucket, it reads the bucket's live urls once (pyarrow,
        as ``anti_join`` does), emits the live rows not among the
        candidates, and evicts one fingerprint for each distinct
        candidate found live; then it emits the part's filter row. The
        markers make every task visit all its buckets and parts, with or
        without candidates. The pass output is persisted, so it runs
        once, and both tables of the commit are projections of it; each
        bucket is written by one task (one file per bucket dir).

        Eviction safety: only distinct, CURRENTLY-SEEN urls are evicted.
        A cuckoo filter's deletion is only safe for keys that were
        actually inserted — evicting a key that is absent (never
        committed, deleted already, or a duplicate row in ``urls``) can
        remove a colliding fingerprint belonging to a DIFFERENT live
        url, and a prefilter false negative is the one error class the
        two-tier design cannot absorb (a definitely-new candidate skips
        the exact anti-join entirely and would be double-crawled). Two
        live urls sharing a (bucket, fingerprint) each own one inserted
        copy, so deleting one leaves the other's copy in place — the
        standard counting argument. Which copy goes does not depend on
        the order of evictions, so the blobs are the same whatever order
        the candidates arrive in.

        Cost: one shuffle of the candidates and one read of every bucket;
        the seen table is never shuffled, but it is rewritten whole
        (O(|seen|)) and held in the persisted pass output until the
        commit ends. A caller that deletes several times between batches
        pays that per call; it should gather the URLs into one call. If
        ``urls`` is itself derived from ``seen()``, computing it scans
        url_seen as well. This is an internal commit: it advances the
        store counter but NOT the logical batch id."""
        head = self.store.head()
        if head is None:
            raise ValueError("delete_urls: nothing committed yet")
        bc = self._paths_bcast()
        evict = bc.value[1] is not None
        n_parts, bucket_col = self.n_parts, self.BUCKET_COL
        n_tasks = min(n_parts, self.spark.sparkContext.defaultParallelism)
        ch, fp = cuckoo_hash_fp("url")
        cands = (
            urls.select("url")
            .where(F.col("url").isNotNull())
            .select("url", self._bucket_expr().alias("_sb"), ch.alias("_ch"), fp.alias("_fp"))
        )
        bucket_ids = pd.DataFrame({"_sb": pd.array(range(self.bucketed_parts), dtype="int32")})
        markers = self.spark.createDataFrame(bucket_ids).select(
            F.lit(None).cast("string").alias("url"),
            "_sb",
            F.lit(None).cast("long").alias("_ch"),
            F.lit(None).cast("int").alias("_fp"),
        )
        part = F.pmod("_sb", F.lit(n_parts))
        keyed = (
            cands.unionByName(markers)
            .repartition(
                n_tasks, F.element_at(self._task_map(n_tasks), F.pmod(part, F.lit(n_tasks)))
            )
            .sortWithinPartitions(part, "_sb")
        )
        # kept url rows (cuckoo columns null) and filter rows (url and
        # bucket null) share the pass's output
        out_type = T.DataType.fromDDL(f"url string, {bucket_col} int, {CUCKOO_SCHEMA}")
        schema = to_arrow_schema(out_type)

        def _del(batches):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            seen_files, cdir = bc.value
            held = [-1, None]  # (filter part, its writable table; None = no blob)
            filt_fields = list(schema)[2:]

            def _rows(url, bucket, filt=None):
                if filt is None:
                    filt = [pa.nulls(len(url), f.type) for f in filt_fields]
                return pa.RecordBatch.from_arrays([url, bucket, *filt], schema=schema)

            def _part_done():
                p, table = held
                if table is not None:
                    row = pa.RecordBatch.from_pandas(
                        _filter_row(p, table), schema=pa.schema(filt_fields), preserve_index=False
                    )
                    yield _rows(pa.nulls(1, pa.string()), pa.nulls(1, pa.int32()), row.columns)

            def _bucket(b: int, run: list):
                if b % n_parts != held[0]:
                    yield from _part_done()
                    table = _filter_table(cdir, b % n_parts)
                    held[:] = [b % n_parts, None if table is None else table.copy()]
                files = seen_files.get(b)
                if not files:
                    return  # nothing live: nothing to keep or evict
                live = pq.read_table(files, columns=["url"]).column("url")
                dels = pa.Table.from_batches(run)
                dels = dels.filter(pc.is_valid(dels.column("url")))  # drop the marker
                if dels.num_rows:
                    cu = dels.column("url")
                    uniq = pc.unique(cu)
                    if held[1] is not None:
                        first = pc.index_in(uniq, value_set=cu)  # one row per distinct url
                        at = first.filter(pc.is_in(uniq, value_set=live))
                        _delete_from_table(
                            held[1],
                            dels.column("_ch").take(at).to_numpy(),
                            dels.column("_fp").take(at).to_numpy(),
                        )
                    live = live.filter(pc.invert(pc.is_in(live, value_set=uniq)))
                for chunk in live.chunks:
                    if len(chunk):
                        yield _rows(chunk, pa.array(np.full(len(chunk), b, np.int32)))

            run_b, run = -1, []
            for rb in batches:
                sb = rb.column("_sb").to_numpy()
                starts = np.flatnonzero(np.diff(sb, prepend=-1))  # bucket runs
                for lo, hi in zip(starts, np.r_[starts[1:], len(sb)]):
                    if int(sb[lo]) != run_b:
                        if run:
                            yield from _bucket(run_b, run)
                        run_b, run = int(sb[lo]), []
                    run.append(rb.slice(lo, hi - lo))
            if run:
                yield from _bucket(run_b, run)
            yield from _part_done()

        out = keyed.mapInArrow(_del, out_type).persist()
        full_tables = {
            self.TABLE_SEEN: out.where(F.col(bucket_col).isNotNull()).select("url", bucket_col)
        }
        if evict:
            full_tables[self.TABLE_CUCKOO] = out.where(F.col("cuckoo_part").isNotNull()).select(
                "cuckoo_part", "blob", "load", "overflow"
            )
        try:
            man = self.store.commit(
                head.batch_id + 1,
                full_tables=full_tables,
                metrics=self._stamp(
                    self.last_logical(), {**(metrics or {}), "event": "delete_urls"}
                ),
                partition_cols={self.TABLE_SEEN: [bucket_col]},
            )
        finally:
            out.unpersist()
        return man, {"filter_evicted": evict}

    def apply_deletes(self) -> Manifest | None:
        """A no-op that returns HEAD: ``delete_urls`` already purges the
        deleted URLs from url_seen in its own commit. Kept for callers
        written against the earlier two-step delete-then-purge API."""
        return self.store.head()

    def expire(self, keep_last: int = 2) -> dict:
        """Drop old snapshots' files. Retention is directory-granular and
        every snapshot dir stays referenced through the url_seen delta
        chain, so superseded blob files inside kept-but-old dirs reclaim
        only after ``compact`` (or a ``delete_urls``) rewrites url_seen
        into one dir: call ``compact()`` every N batches (the engine's
        own cadence) and expire then — history cost stays ~keep_last
        blob tables, not one per batch."""
        return self.store.expire_snapshots(keep_last=keep_last)

    def compact(self, n_files: int = 8) -> Manifest:
        """Rewrite the url_seen delta history into one snapshot's files
        (read path shrinks; a following expire() reclaims the old dirs —
        including every superseded blob table that shared them). The
        compaction commit carries the current logical batch id forward
        so ``last_logical`` (and any loop cursor) survives even when
        ``expire(keep_last=2)`` keeps only internal (delete, compact)
        manifests."""
        return self.store.compact(
            self.TABLE_SEEN,
            n_files=n_files,
            extra_metrics=self._stamp(self.last_logical()),
        )
