"""URL-seen state for a long-running frontier drain — the product form of
the state discipline tools/scale_frontier_loop.py measures at 10^9.

One `SeenState` owns two tables in a SnapshotParquetStore:

- ``url_seen`` (delta): append-only URL rows, the exact side of the
  membership check (bloom maybe-seens anti-join against it).
- ``seen_bloom`` (full): the partitioned Bloom blobs, OR-ed forward each
  batch via ``update_bloom`` and fill-checked on the committed files
  (rebuild-wider from the full seen table past the saturation
  threshold — amortized O(1) per batch).

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
``filter_kind``, ``url_col``) next to the logical batch id, and the
constructor compares HEAD's record with its own settings once, raising
:class:`SeenStateMismatch` on any difference. A mismatched open would
probe the wrong filter partitions or bucket directories, tag
already-seen URLs definitely-new and re-schedule them — the one error the
two-tier check cannot absorb.

Reference contrast: the reference's URL-seen is a per-crawl in-memory
``set`` lost on crash (/root/reference/backend/domain/entities.py:153);
this is its 10^10-frontier replacement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..state import Manifest, SnapshotParquetStore, empty_frame
from .bloom import BITS_PER_KEY, bloom_fill, build_bloom, update_bloom
from .cuckoo import (
    BUCKET_SLOTS,
    CuckooOverflowError,
    build_cuckoo,
    cuckoo_load,
    delete_from_cuckoo,
    insert_into_cuckoo,
)

__all__ = ["SeenState", "SeenStateMismatch"]


class SeenStateMismatch(ValueError):
    """A store was opened with settings other than the ones it was
    written with (or its HEAD carries no layout record)."""


class SeenState:
    TABLE_SEEN = "url_seen"
    TABLE_BLOOM = "seen_bloom"
    TABLE_CUCKOO = "seen_cuckoo"
    TABLE_DELETED = "url_deleted"

    BUCKET_COL = "seen_bucket"

    METRIC_LOGICAL = "seen_logical_batch"
    METRIC_LAYOUT = "seen_layout"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_parts: int = 64,
        expected_keys: int = 10_000_000,
        rebuild_fill: float = 0.5,
        url_col: str = "url",
        bucketed_parts: int | None = None,
        write_tasks: int = 64,
        filter_kind: str = "bloom",
    ):
        """``expected_keys`` sizes the initial Bloom (BITS_PER_KEY bits per
        expected seen URL); undersizing is safe — ``commit_batch``
        rebuilds wider when fill crosses ``rebuild_fill``. On resume the
        width is inferred from the committed blobs, so the parameter only
        matters for a fresh store.

        ``bucketed_parts`` (B) turns on the hash-bucketed url_seen
        layout: rows land under ``seen_bucket=<pmod(xxhash64(url,2),B)>``
        hive directories, and :meth:`anti_join` resolves the maybe-seen
        slice bucket-wise — each task opens its bucket's parquet files
        directly (pyarrow), so the accumulated seen table is NEVER
        shuffled; only the (small, post-Bloom) candidate slice is. This
        is the per-batch cost that otherwise tracks ACCUMULATED state:
        the flat anti-join reshuffles ~4 GB of seen rows per batch at
        10^8 seen and grows linearly to 10^10. B must be a multiple of
        ``n_parts`` and the bucket hash is the Bloom's partition hash
        (seed 2), so bucket % n_parts == bloom_part: bucket dirs refine
        the filter partitioning. ``write_tasks`` caps the writer
        fan-out: new rows are hash-clustered so each bucket's files come
        from one task (~B files per commit, not tasks*B).

        ``filter_kind`` picks the prefilter blob family: ``"bloom"``
        (default; operators/bloom.py) or ``"cuckoo"``
        (operators/cuckoo.py) — same partition contract, but cuckoo
        supports DELETION: :meth:`delete_urls` evicts fingerprints so
        ``delete_source`` at drain scale keeps the prefilter truthful
        without a rebuild (a Bloom bit is shared by unknown other keys
        and can never be unset; reference analog: page rows deleted with
        their source, /root/reference/backend/service/services.py:317-324).
        For cuckoo, ``rebuild_fill`` is the slot-load threshold (the
        filter rebuilds wider BEFORE an insert that would start from a
        load above it — cuckoo inserts fail their kick walks near
        LOAD_FACTOR instead of degrading like Bloom fpp does).

        ``n_parts``, ``bucketed_parts``, ``filter_kind`` and ``url_col``
        fix the store's layout: reopening a committed store with any of
        them changed raises :class:`SeenStateMismatch` here, before any
        read or write. ``expected_keys``, ``rebuild_fill`` and
        ``write_tasks`` only tune a fresh store or future commits and may
        differ between opens."""
        self.spark = spark
        self.store = SnapshotParquetStore(spark, root)
        self.n_parts = n_parts
        self.rebuild_fill = rebuild_fill
        self.url_col = url_col
        if bucketed_parts is not None and bucketed_parts % n_parts != 0:
            raise ValueError(
                f"bucketed_parts ({bucketed_parts}) must be a multiple of "
                f"n_parts ({n_parts}) so bucket % n_parts == bloom_part"
            )
        self.bucketed_parts = bucketed_parts
        self.write_tasks = write_tasks
        if filter_kind not in ("bloom", "cuckoo"):
            raise ValueError(f"filter_kind must be 'bloom' or 'cuckoo', got {filter_kind!r}")
        self.filter_kind = filter_kind
        need = max(1 << 13, expected_keys * BITS_PER_KEY // max(n_parts, 1))
        self._initial_m_bits = 1 << (need - 1).bit_length()
        # cuckoo geometry: slots for expected_keys at ~LOAD_FACTOR-with-
        # headroom occupancy, power-of-two buckets per partition
        nb_need = max(256, expected_keys // max(n_parts, 1) // (BUCKET_SLOTS * 2) * 3)
        self._initial_buckets = 1 << (nb_need - 1).bit_length()
        self._empty = empty_frame(spark, T.StructType([T.StructField(url_col, T.StringType())]))
        self._layout = {
            "n_parts": n_parts,
            "bucketed_parts": bucketed_parts,
            "filter_kind": filter_kind,
            "url_col": url_col,
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

    def _stamp(self, bid: int, metrics: dict | None = None) -> dict:
        """Commit metrics carrying the logical batch id and the layout
        record — every commit SeenState writes goes through here, so
        HEAD always holds both (see ``last_logical`` and the open-time
        check in ``__init__``)."""
        return {**(metrics or {}), self.METRIC_LOGICAL: bid, self.METRIC_LAYOUT: self._layout}

    @staticmethod
    def _part_expr(url_col: str, modulus: int):
        """THE layout hash: seed 2 == add_bloom_keys'/add_cuckoo_keys'
        part hash. Every bucket/part derivation in this class MUST go
        through here — the contract bucket % n_parts == bloom_part holds
        only while the expression is byte-identical everywhere."""
        return F.pmod(F.xxhash64(url_col, F.lit(2)), F.lit(modulus)).cast("int")

    def _bucket_expr(self):
        # with B a multiple of n_parts, h mod n_parts == (h mod B) mod
        # n_parts, so bucket dirs refine the Bloom partitioning
        return self._part_expr(self.url_col, self.bucketed_parts)

    # -- reads ----------------------------------------------------------------

    def batch_id(self) -> int:
        head = self.store.head()
        return head.batch_id if head else 0

    def last_logical(self) -> int:
        """The last LOGICAL batch id committed through ``commit_batch`` —
        the caller-facing counter the idempotent-redelivery guard checks.

        The store's ``batch_id`` counts COMMITS, and SeenState itself
        commits internally (a bloom rebuild, a compaction), so the two
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

    @property
    def filter_table(self) -> str:
        return self.TABLE_CUCKOO if self.filter_kind == "cuckoo" else self.TABLE_BLOOM

    def seen(self) -> DataFrame:
        """The exact membership side: every committed url MINUS the
        tombstoned (deleted) ones — a deleted source's URLs are
        re-crawlable, exactly the reference's delete-pages-with-source
        semantics. The tombstone anti-join only appears in the plan when
        deletions exist."""
        df = self.store.read(self.TABLE_SEEN)
        if df is None:
            return self._empty
        dels = self.store.read(self.TABLE_DELETED)
        if dels is not None:
            df = df.join(dels.select(self.url_col), self.url_col, "left_anti")
        return df

    def deleted(self) -> DataFrame:
        """Tombstoned URLs awaiting physical purge (apply_deletes)."""
        df = self.store.read(self.TABLE_DELETED)
        return df if df is not None else self._empty

    def blobs(self) -> DataFrame:
        """Committed prefilter blobs of the configured ``filter_kind``
        (empty DataFrame before the first commit — the prefilter treats
        a missing blob as maybe_seen=false, and the exact anti-join side
        is equally empty, so batch 0 just works)."""
        df = self.store.read(self.filter_table)
        if df is not None:
            return df
        if self.filter_kind == "cuckoo":
            return build_cuckoo(
                self._empty, n_parts=self.n_parts, n_buckets=self._initial_buckets
            )
        return build_bloom(
            self._empty, n_parts=self.n_parts, m_bits_per_part=self._initial_m_bits
        )

    def fill(self) -> DataFrame:
        """Saturation report for the configured filter kind — columns
        (part, capacity, used, fill): Bloom bit-fill or cuckoo slot-load,
        normalized so the drain loop's reporting reads one shape."""
        if self.filter_kind == "cuckoo":
            return cuckoo_load(self.blobs()).select(
                F.col("cuckoo_part").alias("bloom_part"),
                (F.col("n_buckets") * BUCKET_SLOTS).alias("m_bits"),
                F.col("slots_used").alias("bits_set"),
                F.col("load").alias("fill"),
            )
        return bloom_fill(self.blobs())

    def bucket_files(self, table: str | None = None) -> dict[int, list[str]]:
        """bucket id -> absolute parquet paths across every committed
        delta directory of ``table`` (default url_seen; driver-side
        directory listing over the manifest's file list — no Spark job).
        After a ``compact`` the list is one directory; between
        compactions it is one per batch."""
        if self.bucketed_parts is None:
            raise ValueError("bucket_files: store is not bucketed")
        import glob as _glob
        import os as _os

        table = table or self.TABLE_SEEN
        head = self.store.head()
        out: dict[int, list[str]] = {}
        if head is None or table not in head.tables:
            return out
        for rel in head.tables[table]["files"]:
            base = _os.path.join(self.store.root, "snapshots", rel)
            for d in _glob.glob(_os.path.join(base, f"{self.BUCKET_COL}=*")):
                b = int(d.rsplit("=", 1)[1])
                out.setdefault(b, []).extend(
                    _glob.glob(_os.path.join(d, "*.parquet"))
                )
        return out

    def anti_join(self, candidates: DataFrame, url_col: str | None = None) -> DataFrame:
        """Exact ``candidates LEFT ANTI JOIN url_seen ON url`` without
        shuffling the seen table — the bucket-wise join the 10^10 design
        point needs (a flat anti-join reshuffles the ENTIRE accumulated
        seen table every batch; this shuffles only the candidate slice,
        which after the Bloom prefilter is the maybe-seen fraction).

        Candidates are hash-clustered by the layout's bucket key; each
        task then opens ONLY its bucket's committed parquet files
        (pyarrow, url column, ~|seen|/B rows) and drops candidates whose
        url appears — membership compares full URLs, so the result is
        exact, not fingerprint-approximate. Buckets with no candidates
        are never read. The reference analog is the in-memory ``set``
        lookup (/root/reference/backend/domain/entities.py:153,158-159);
        a real cluster swaps this for an Iceberg bucket-partitioned
        storage-partitioned join, same layout contract."""
        if self.bucketed_parts is None:
            raise ValueError("anti_join: store is not bucketed")
        url_col = url_col or self.url_col
        store_col = self.url_col  # the committed files' column, whatever the caller's
        fmap = self.bucket_files()
        if not fmap:
            return candidates
        dmap = self.bucket_files(self.TABLE_DELETED)
        # one live broadcast per snapshot epoch: a drain loop calls this
        # every batch, and an un-released broadcast per batch pins the
        # full path map on driver+executors for the run's lifetime (the
        # same leak class schedule_batch's barrier contract documents).
        head = self.store.head()
        epoch = head.snapshot_id if head else -1
        cached = getattr(self, "_aj_bcast", None)
        if cached is not None and cached[0] == epoch:
            bc = cached[1]
        else:
            if cached is not None:
                # unpersist (not destroy): frees the executor copies while a
                # not-yet-evaluated plan from the previous epoch can still
                # re-fetch from the driver; the driver holds at most ONE
                # superseded value, not one per batch
                try:
                    cached[1].unpersist()
                except Exception:
                    pass
            bc = self.spark.sparkContext.broadcast((fmap, dmap))
            self._aj_bcast = (epoch, bc)
        out_schema = candidates.schema
        keyed = candidates.withColumn(
            "_sb", self._part_expr(url_col, self.bucketed_parts)
        ).repartition(self.bucketed_parts, F.col("_sb"))
        names = [f.name for f in out_schema.fields]

        def _aj(batches):
            # mapInArrow, not applyInPandas: candidate strings stay Arrow
            # buffers end to end (pandas object materialization anti-
            # scales on allocator contention — same finding as
            # bloom_prefilter's broadcast probe). One task holds whole
            # buckets (hash repartition on _sb), so each bucket's seen
            # slice is read once per task and probed per Arrow batch.
            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            seen_files, del_files = bc.value
            cache: dict[int, object] = {}

            def _bucket_set(b: int):
                if b not in cache:
                    files = seen_files.get(b)
                    if not files:
                        cache[b] = None
                    else:
                        vals = pq.read_table(files, columns=[store_col]).column(store_col)
                        dels = del_files.get(b)
                        if dels:
                            # tombstoned urls are re-crawlable: NOT seen
                            gone = pq.read_table(dels, columns=[store_col]).column(
                                store_col
                            )
                            vals = pc.filter(
                                vals, pc.invert(pc.is_in(vals, value_set=gone.combine_chunks()))
                            )
                        cache[b] = vals.combine_chunks()
                return cache[b]

            for rb in batches:
                parts = rb.column("_sb").to_numpy()
                keep = [rb.column(n) for n in names]
                if not len(parts):
                    yield pa.record_batch(keep, names=names)
                    continue
                cand = rb.column(url_col)
                seen_mask = np.zeros(len(parts), dtype=bool)
                for b in np.unique(parts):
                    vset = _bucket_set(int(b))
                    if vset is None:
                        continue
                    sel = parts == b
                    sub = pc.is_in(
                        cand.take(pa.array(np.flatnonzero(sel))),
                        value_set=vset,
                    ).to_numpy(zero_copy_only=False)
                    seen_mask[sel] = sub
                tbl = pa.table(keep, names=names)
                yield from pa.table(
                    [c.filter(pa.array(~seen_mask)) for c in tbl.columns], names=names
                ).to_batches()

        return keyed.mapInArrow(_aj, out_schema)

    # -- writes ---------------------------------------------------------------

    def commit_batch(
        self,
        new_seen: DataFrame,
        batch_id: int | None = None,
        metrics: dict | None = None,
    ) -> tuple[Manifest, dict]:
        """Commit one batch's newly-seen URLs: append to ``url_seen``,
        OR the batch into the Bloom (update_bloom), write both
        atomically; then fill-check the committed blobs and rebuild
        wider in a follow-up commit when saturation crosses
        ``rebuild_fill``. Returns (manifest, info) — info reports
        fill_max, rebuilt, and the widths.

        ``new_seen`` must carry the state's url column and be
        deduplicated against the current seen set (schedule_batch output
        already is — that is what scheduling MEANS); re-appending an
        already-seen URL is harmless for membership but inflates the
        seen table. Re-committing an already-committed batch_id is a
        no-op (guarded on the LOGICAL counter, see ``last_logical`` —
        the store's own batch_id also counts internal rebuild/compact
        commits, so it cannot be the redelivery namespace)."""
        head = self.store.head()
        last = self.last_logical()
        bid = batch_id if batch_id is not None else last + 1
        if head is not None and bid <= last:
            return head, {"redelivered": True}
        new_urls = new_seen.select(F.col(self.url_col))
        pcols = None
        if self.bucketed_parts is not None:
            # cluster the batch's rows by bucket BEFORE the partitioned
            # write: each bucket's files then come from exactly one task
            # (~B files per commit instead of tasks*B splinters)
            new_urls = new_urls.withColumn(
                self.BUCKET_COL, self._bucket_expr()
            ).repartition(self.write_tasks, F.col(self.BUCKET_COL))
            pcols = {
                self.TABLE_SEEN: [self.BUCKET_COL],
                self.TABLE_DELETED: [self.BUCKET_COL],
            }
        # a re-crawled url leaves the tombstone set (it is seen again);
        # tombstones are small (a deleted source's pages), so the rewrite
        # is cheap and only happens while deletions are pending
        full_extra: dict[str, DataFrame] = {}
        if head is not None and head.tables.get(self.TABLE_DELETED, {}).get("rows", 0):
            kept = self.store.read(self.TABLE_DELETED).join(
                new_urls.select(self.url_col), self.url_col, "left_anti"
            )
            full_extra[self.TABLE_DELETED] = kept
        if self.filter_kind == "cuckoo":
            return self._commit_cuckoo(head, bid, new_urls, pcols, metrics, full_extra)
        bloom = self.blobs()
        has_blobs = bool(
            head and head.tables.get(self.TABLE_BLOOM, {}).get("rows", 0)
        )
        if has_blobs:
            # resume/steady state: infer the width from the committed
            # blobs so a past rebuild's wider width is honored (one
            # 64-row agg over the parquet blob table)
            m_bits = int(bloom.agg(F.max(F.length("blob"))).first()[0]) * 8
        else:
            m_bits = self._initial_m_bits
        out = update_bloom(
            bloom, new_urls, url_col=self.url_col, n_parts=self.n_parts,
            m_bits_per_part=m_bits,
        )
        # Commit FIRST, fill-check the COMMITTED blobs after: checking
        # fill on the un-materialized update would evaluate the whole
        # cogroup twice (once for the check, again for the write) —
        # measured as the bulk of per-batch state cost at 10^8-row
        # batches. The post-commit check is a popcount over the written
        # parquet; the rare rebuild lands as a follow-up commit (same
        # amortized-doubling contract, one extra snapshot per doubling).
        man = self.store.commit(
            head.batch_id + 1 if head else 1,
            full_tables={self.TABLE_BLOOM: out, **full_extra},
            delta_tables={self.TABLE_SEEN: new_urls},
            metrics=self._stamp(bid, metrics),
            partition_cols=pcols,
        )
        fill_max = float(
            bloom_fill(self.blobs()).agg(F.max("fill")).first()[0] or 0.0
        )
        info = {"fill_max": fill_max, "rebuilt": False, "m_bits_per_part": m_bits}
        if fill_max > self.rebuild_fill:
            full_seen = self.seen()
            n_keys = full_seen.count()
            need = max(m_bits * 2, (n_keys * BITS_PER_KEY) // max(self.n_parts, 1))
            new_m = 1 << (need - 1).bit_length()
            rebuilt = build_bloom(
                full_seen.select(F.col(self.url_col).alias("url")),
                n_parts=self.n_parts,
                m_bits_per_part=new_m,
            )
            man = self.store.commit(
                man.batch_id + 1,
                full_tables={self.TABLE_BLOOM: rebuilt},
                metrics=self._stamp(
                    bid,
                    {
                        "event": "bloom_rebuild",
                        "fill_max": fill_max,
                        "m_bits_before": m_bits,
                        "m_bits_per_part": new_m,
                    },
                ),
            )
            info.update(rebuilt=True, m_bits_before=m_bits, m_bits_per_part=new_m)
        return man, info

    def _commit_cuckoo(
        self,
        head: Manifest | None,
        bid: int,
        new_urls: DataFrame,
        pcols: dict | None,
        metrics: dict | None,
        full_extra: dict[str, DataFrame],
    ) -> tuple[Manifest, dict]:
        """Cuckoo data-commit path. Unlike Bloom (commit first,
        fill-check after, rebuild as a follow-up commit), the load check
        runs BEFORE the insert: a cuckoo insert near LOAD_FACTOR fails
        its kick walk outright instead of degrading gracefully, so a
        saturated filter must rebuild wider first — and the rebuilt
        blobs then ride the SAME commit as the batch (one snapshot, no
        extra namespace traffic). The pre-insert check is one 64-row agg
        over the committed blob table."""
        blobs = self.blobs()
        has_blobs = bool(
            head and head.tables.get(self.TABLE_CUCKOO, {}).get("rows", 0)
        )
        if has_blobs:
            nb = int(blobs.agg(F.max(F.length("blob"))).first()[0]) // 2 // BUCKET_SLOTS
        else:
            nb = self._initial_buckets
        info: dict = {"rebuilt": False, "n_buckets": nb}
        if has_blobs:
            load_max = float(
                cuckoo_load(blobs).agg(F.max("load")).first()[0] or 0.0
            )
            info["load_max_before"] = load_max
            if load_max > self.rebuild_fill:
                n_keys = self.seen().count()
                need = max(
                    nb * 2, n_keys // max(self.n_parts, 1) // BUCKET_SLOTS * 2
                )
                nb = 1 << (need - 1).bit_length()
                blobs = build_cuckoo(
                    self.seen().select(F.col(self.url_col).alias("url")),
                    n_parts=self.n_parts,
                    n_buckets=nb,
                )
                info.update(rebuilt=True, n_buckets=nb)
        out = insert_into_cuckoo(
            blobs,
            new_urls.select(F.col(self.url_col).alias("url")),
            n_parts=self.n_parts,
            n_buckets=nb,
        )
        try:
            man = self.store.commit(
                head.batch_id + 1 if head else 1,
                full_tables={self.TABLE_CUCKOO: out, **full_extra},
                delta_tables={self.TABLE_SEEN: new_urls},
                metrics=self._stamp(bid, metrics),
                partition_cols=pcols,
            )
        except Exception as e:
            # the pre-insert load check sees the COMMITTED load, not the
            # incoming batch: a batch large relative to capacity (or the
            # very first commit into an undersized fresh filter) can
            # still fail its kick walk. store.commit staged to a tmp dir
            # and cleaned up, so nothing was written — rebuild sized for
            # seen+batch and retry once. This keeps the constructor's
            # "undersizing is safe" contract true for cuckoo too. The
            # overflow raised in a Python worker arrives wrapped in
            # Spark's PythonException, whose text names the class.
            if CuckooOverflowError.__name__ not in str(e):
                raise
            all_keys = self.seen().select(
                F.col(self.url_col).alias("url")
            ).unionByName(new_urls.select(F.col(self.url_col).alias("url")))
            n_keys = all_keys.count()
            need = max(nb * 2, n_keys // max(self.n_parts, 1) // BUCKET_SLOTS * 2)
            nb = 1 << (need - 1).bit_length()
            out = build_cuckoo(all_keys, n_parts=self.n_parts, n_buckets=nb)
            man = self.store.commit(
                head.batch_id + 1 if head else 1,
                full_tables={self.TABLE_CUCKOO: out, **full_extra},
                delta_tables={self.TABLE_SEEN: new_urls},
                metrics=self._stamp(
                    bid, {**(metrics or {}), "event": "cuckoo_overflow_rebuild"}
                ),
                partition_cols=pcols,
            )
            info.update(rebuilt=True, n_buckets=nb, overflow_recovered=True)
        return man, info

    def delete_urls(
        self, urls: DataFrame, metrics: dict | None = None
    ) -> tuple[Manifest, dict]:
        """Remove URLs from the seen state (the drain-scale form of the
        reference's delete-source-cascades-to-pages,
        /root/reference/backend/service/services.py:317-324): append
        them to the ``url_deleted`` tombstone table — ``seen()`` and the
        bucket-wise ``anti_join`` subtract tombstones, so the URLs are
        immediately re-crawlable — and, with ``filter_kind='cuckoo'``,
        evict their fingerprints from the prefilter blobs so the maybe
        slice stays truthful WITHOUT a rebuild. (Bloom mode tombstones
        only: shared bits cannot be unset, so deleted URLs keep probing
        maybe_seen until the next width rebuild drops them — correct,
        since the exact tier resolves every maybe, just more maybe
        traffic.)

        Eviction safety: deletions are first deduplicated and
        restricted to CURRENTLY-SEEN urls. A cuckoo filter's deletion
        is only safe for keys that were actually inserted — evicting a
        key that is absent (never committed, tombstoned already, or a
        duplicate row in ``urls``) can remove a colliding fingerprint
        belonging to a DIFFERENT live url, and a prefilter false
        negative is the one error class the two-tier design cannot
        absorb (a definitely-new candidate skips the exact anti-join
        entirely and would be double-crawled). With the semi-join
        guard, two live urls sharing a (bucket, fingerprint) each own
        one inserted copy, so deleting one leaves the other's copy in
        place — the standard counting argument. Physical purge of the
        url_seen rows happens at ``apply_deletes``. This is an internal
        commit: it advances the store counter but NOT the logical batch
        id."""
        head = self.store.head()
        if head is None:
            raise ValueError("delete_urls: nothing committed yet")
        dels = (
            urls.select(F.col(self.url_col))
            .dropDuplicates([self.url_col])
            .join(self.seen().select(self.url_col), self.url_col, "left_semi")
        )
        pcols = None
        if self.bucketed_parts is not None:
            dels = dels.withColumn(self.BUCKET_COL, self._bucket_expr())
            pcols = {self.TABLE_DELETED: [self.BUCKET_COL]}
        full_tables: dict[str, DataFrame] = {}
        if self.filter_kind == "cuckoo" and head.tables.get(
            self.TABLE_CUCKOO, {}
        ).get("rows", 0):
            full_tables[self.TABLE_CUCKOO] = delete_from_cuckoo(
                self.blobs(),
                dels.select(F.col(self.url_col).alias("url")),
                n_parts=self.n_parts,
            )
        man = self.store.commit(
            head.batch_id + 1,
            full_tables=full_tables,
            delta_tables={self.TABLE_DELETED: dels},
            metrics=self._stamp(
                self.last_logical(), {**(metrics or {}), "event": "delete_urls"}
            ),
            partition_cols=pcols,
        )
        return man, {"filter_evicted": self.filter_kind == "cuckoo"}

    def apply_deletes(self, n_files: int = 8) -> Manifest:
        """Physically purge tombstoned rows: rewrite url_seen as
        ``seen()`` (already tombstone-subtracted) and clear the
        tombstone table — the engine's compaction-cadence companion, so
        steady-state deletes cost an append + blob eviction and the
        O(|seen|) rewrite is paid on the same schedule as ``compact``."""
        head = self.store.head()
        if head is None:
            raise ValueError("apply_deletes: nothing committed yet")
        if not head.tables.get(self.TABLE_DELETED, {}).get("rows", 0):
            return head  # no tombstones pending: nothing to purge
        seen = self.seen()
        pcols = None
        if self.bucketed_parts is not None:
            # n_files tasks, each writing whole buckets => ~one file per
            # bucket (same bounding contract as store.compact)
            seen = seen.repartition(n_files, F.col(self.BUCKET_COL))
            pcols = {
                self.TABLE_SEEN: [self.BUCKET_COL],
                self.TABLE_DELETED: [self.BUCKET_COL],
            }
        else:
            seen = seen.coalesce(n_files)
        return self.store.commit(
            head.batch_id + 1,
            full_tables={
                self.TABLE_SEEN: seen,
                self.TABLE_DELETED: self.deleted().limit(0),
            },
            metrics=self._stamp(self.last_logical(), {"event": "apply_deletes"}),
            partition_cols=pcols,
        )

    def expire(self, keep_last: int = 2) -> dict:
        """Drop old snapshots' files. Retention is directory-granular and
        every snapshot dir stays referenced through the url_seen delta
        chain, so superseded blob files inside kept-but-old dirs reclaim
        only after ``compact`` rewrites the delta history into one dir:
        call ``compact("url_seen")`` every N batches (the engine's own
        cadence) and expire then — history cost stays ~keep_last blob
        tables, not one per batch."""
        return self.store.expire_snapshots(keep_last=keep_last)

    def compact(self, n_files: int = 8) -> Manifest:
        """Rewrite the url_seen delta history into one snapshot's files
        (read path shrinks; a following expire() reclaims the old dirs —
        including every superseded blob table that shared them). The
        compaction commit carries the current logical batch id forward
        so ``last_logical`` (and any loop cursor) survives even when
        ``expire(keep_last=2)`` keeps only (rebuild, compact) manifests
        from an iteration that triggered both."""
        return self.store.compact(
            self.TABLE_SEEN,
            n_files=n_files,
            extra_metrics=self._stamp(self.last_logical()),
        )
