"""Partitioned cuckoo-filter URL-seen prefilter — the filter of the drain
loop's URL-seen state (``SeenState``, operators/seen_state.py; north
star: "partitioned Bloom/cuckoo URL-seen filter"; the reference's exact
set is its backend/domain/entities.py:153).

Per-partition blobs keyed by ``pmod(xxhash64(url, 2), P)`` are stored as a
state table; ``SeenState.anti_join`` probes them bucket-wise, one blob per
task at a time (``cuckoo_prefilter`` is the cogrouped probe).
``insert_into_cuckoo`` adds a batch's keys in place, and
``_delete_from_table`` evicts a key's fingerprint from one partition's
table — ``SeenState.delete_urls`` calls it inside its one url_seen
rewrite pass, so a deleted source's URLs leave the seen prefilter
without a rebuild — what the static Bloom filter in operators/bloom.py
cannot do: a Bloom bit is shared by unknown other keys and can never be
unset.

Layout per partition: ``n_buckets x 4`` slots of 16-bit fingerprints
(uint16, 0 = empty; fp in [1, 65535] so empty is unambiguous). Lookup
probes bucket ``i1 = h mod n_buckets`` and its XOR partner
``i2 = i1 ^ offset(fp)``; with power-of-two n_buckets the partner map is
an involution, which is what makes displacement (and deletion) work.
fpp ~ 2*4/2^16 = 0.012%; load sized to <= 0.8 so the bulk build's kick
loop terminates with room to spare.

Hashing is JVM-side (``F.xxhash64``); numpy does the bucket math in Arrow
batches — no per-row Python on the probe path. The bulk build places keys
in vectorized rounds (first-choice pass, then partner pass); only the
residual overflow walks the classic per-key kick loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "add_cuckoo_keys",
    "cuckoo_hash_fp",
    "build_cuckoo",
    "cuckoo_prefilter",
    "insert_into_cuckoo",
    "BUCKET_SLOTS",
    "CuckooOverflowError",
]

BUCKET_SLOTS = 4
_FP_MOD = 65535  # fingerprints 1..65535, 0 = empty slot
MAX_KICKS = 500
LOAD_FACTOR = 0.8


class CuckooOverflowError(ValueError):
    """A written filter has a row with ``overflow = true`` (a key found no
    slot within MAX_KICKS). Raised on the driver by ``SeenState``'s commit
    check, never inside a Python worker."""


def cuckoo_hash_fp(url_col: str = "url"):
    """The (raw 64-bit hash, 16-bit nonzero fingerprint) columns every
    build, insert, probe and delete keys on."""
    fp = F.pmod(F.xxhash64(url_col, F.lit(7)), F.lit(_FP_MOD)) + 1
    return F.xxhash64(url_col), fp.cast("int")


def add_cuckoo_keys(df: DataFrame, url_col: str = "url", n_parts: int = 64) -> DataFrame:
    """JVM-side keys: partition id, raw 64-bit hash (bucket source) and a
    16-bit nonzero fingerprint from an independent seed."""
    ch, cfp = cuckoo_hash_fp(url_col)
    return (
        df.withColumn("ch", ch)
        .withColumn("cfp", cfp)
        .withColumn(
            "cuckoo_part", F.pmod(F.xxhash64(url_col, F.lit(2)), F.lit(n_parts)).cast("int")
        )
    )


def _bucket1(h: np.ndarray, n_buckets: int) -> np.ndarray:
    return (h.astype(np.uint64) % np.uint64(n_buckets)).astype(np.int64)


def _alt_offset(fp: np.ndarray, n_buckets: int) -> np.ndarray:
    """Deterministic partner-bucket offset from the fingerprint (murmur-ish
    mix); must be identical in build, probe, and delete."""
    x = fp.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(29)
    return (x & np.uint64(n_buckets - 1)).astype(np.int64)


def _bulk_place(table: np.ndarray, occ: np.ndarray, idx: np.ndarray, fps: np.ndarray) -> np.ndarray:
    """Vectorized one-round placement of keys into buckets ``idx`` (<=4
    slots each): keys ranked within their bucket; ranks below the free
    count land. Returns the placed mask (original order)."""
    if not len(idx):
        return np.zeros(0, dtype=bool)
    order = np.argsort(idx, kind="stable")
    sidx = idx[order]
    first = np.r_[True, sidx[1:] != sidx[:-1]]
    grp_start = np.flatnonzero(first)
    grp_len = np.diff(np.r_[grp_start, len(sidx)])
    ranks = np.arange(len(sidx)) - np.repeat(grp_start, grp_len)
    slots = occ[sidx] + ranks
    place = slots < BUCKET_SLOTS
    tb, sl = sidx[place], slots[place]
    table[tb, sl] = fps[order][place]
    occ += np.bincount(tb, minlength=len(occ))
    mask = np.zeros(len(idx), dtype=bool)
    mask[order] = place
    return mask


def _place_keys(
    table: np.ndarray, occ: np.ndarray, h: np.ndarray, fp: np.ndarray, n_buckets: int
) -> int:
    """Place keys into an existing table in vectorized rounds (first-choice
    pass, partner pass, residual kick walk). ``occ`` must be the current
    per-bucket occupancy AND rows must be left-packed (nonzero slots
    first) — _bulk_place writes at slot index occ+rank. Shared by the
    bulk build (zeroed table) and the incremental insert (compacted
    existing table). Returns how many kick walks ran out of MAX_KICKS;
    each dropped a fingerprint, so a nonzero count means a lost key."""
    fp16 = fp.astype(np.uint16)
    i1 = _bucket1(h, n_buckets)
    placed = _bulk_place(table, occ, i1, fp16)
    rest = ~placed
    i2 = i1[rest] ^ _alt_offset(fp16[rest], n_buckets)
    placed2 = _bulk_place(table, occ, i2, fp16[rest])
    # residual: classic displacement walk, deterministic slot choice
    unplaced = 0
    for i0, f0 in zip(i2[~placed2], fp16[rest][~placed2]):
        i, f = int(i0), np.uint16(f0)
        for kick in range(MAX_KICKS):
            row = table[i]
            free = np.flatnonzero(row == 0)
            if len(free):
                table[i, free[0]] = f
                break
            j = kick % BUCKET_SLOTS
            f, table[i, j] = row[j], f
            i = int(i ^ _alt_offset(np.array([f]), n_buckets)[0])
        else:
            unplaced += 1
    return unplaced


def _build_table(h: np.ndarray, fp: np.ndarray, n_buckets: int) -> tuple[np.ndarray, int]:
    """A fresh table holding the keys, and ``_place_keys``' unplaced count."""
    table = np.zeros((n_buckets, BUCKET_SLOTS), dtype=np.uint16)
    occ = np.zeros(n_buckets, dtype=np.int64)
    return table, _place_keys(table, occ, h, fp, n_buckets)


def _compact_rows(table: np.ndarray) -> None:
    """Left-pack each bucket's nonzero fingerprints in place. Deletion
    zeroes slots mid-row; the occupancy-indexed bulk placement would then
    overwrite live slots, so inserts compact first. Membership semantics
    are slot-order-independent (probe scans all slots)."""
    order = np.argsort(table == 0, axis=1, kind="stable")
    table[:] = np.take_along_axis(table, order, axis=1)


def _probe_table(table: np.ndarray, h: np.ndarray, fp: np.ndarray) -> np.ndarray:
    n_buckets = table.shape[0]
    fp16 = fp.astype(np.uint16)
    i1 = _bucket1(h, n_buckets)
    i2 = i1 ^ _alt_offset(fp16, n_buckets)
    hit = np.zeros(len(h), dtype=bool)
    for s in range(BUCKET_SLOTS):
        hit |= table[i1, s] == fp16
        hit |= table[i2, s] == fp16
    return hit


def _delete_from_table(table: np.ndarray, h: np.ndarray, fp: np.ndarray) -> int:
    """Remove ONE stored copy of each key's fingerprint (safe only for
    keys that were inserted — standard cuckoo deletion contract). Returns
    the number of evicted fingerprints."""
    n_buckets = table.shape[0]
    removed = 0
    fp16 = fp.astype(np.uint16)
    i1 = _bucket1(h, n_buckets)
    i2 = i1 ^ _alt_offset(fp16, n_buckets)
    for a, b, f in zip(i1, i2, fp16):
        for i in (int(a), int(b)):
            slot = np.flatnonzero(table[i] == f)
            if len(slot):
                table[i, slot[0]] = 0
                removed += 1
                break
    return removed


def _size_buckets(n_keys: int, n_parts: int) -> int:
    need = max(256, int(np.ceil(n_keys / max(n_parts, 1) / (BUCKET_SLOTS * LOAD_FACTOR))))
    return 1 << int(need - 1).bit_length()


CUCKOO_SCHEMA = "cuckoo_part int, blob binary, load double, overflow boolean"


def _filter_row(part: int, table: np.ndarray, unplaced: int = 0) -> pd.DataFrame:
    """One ``CUCKOO_SCHEMA`` row: the table, its slot load after the write,
    and whether a key went unplaced. Every filter writer emits through here."""
    load = float((table != 0).mean())
    return pd.DataFrame(
        [{"cuckoo_part": part, "blob": table.tobytes(), "load": load, "overflow": unplaced > 0}]
    )


def build_cuckoo(seen: DataFrame, n_parts: int = 64, n_buckets: int | None = None) -> DataFrame:
    """Per-partition cuckoo tables from the seen table, one
    ``CUCKOO_SCHEMA`` row each; blob = uint16 table bytes, n_buckets
    recoverable as len(blob) // 2 // BUCKET_SLOTS (power of two). A
    partition whose keys do not fit is written with ``overflow = true``."""
    if n_buckets is None:
        n_buckets = _size_buckets(seen.count(), n_parts)
    keyed = add_cuckoo_keys(seen, n_parts=n_parts)

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        table, unplaced = _build_table(pdf["ch"].to_numpy(), pdf["cfp"].to_numpy(), n_buckets)
        return _filter_row(int(pdf["cuckoo_part"].iloc[0]), table, unplaced)

    return (
        keyed.select("cuckoo_part", "ch", "cfp")
        .groupBy("cuckoo_part")
        .applyInPandas(_build, CUCKOO_SCHEMA)
    )


def cuckoo_prefilter(candidates: DataFrame, cuckoo: DataFrame, n_parts: int = 64) -> DataFrame:
    """Tag candidates with ``maybe_seen`` via a cogrouped per-partition
    probe (the 10^10-scale delivery). No false negatives for
    inserted-and-not-deleted keys."""
    keyed = add_cuckoo_keys(candidates, n_parts=n_parts)

    def _probe(cands: pd.DataFrame, blobs: pd.DataFrame) -> pd.DataFrame:
        out = cands.drop(columns=["ch", "cfp"])
        if not len(cands) or not len(blobs):
            out["maybe_seen"] = pd.Series([False] * len(cands), dtype=bool)
            return out
        blob = blobs["blob"].iloc[0]
        table = np.frombuffer(blob, dtype=np.uint16).reshape(-1, BUCKET_SLOTS)
        out["maybe_seen"] = _probe_table(
            table, cands["ch"].to_numpy(), cands["cfp"].to_numpy()
        )
        return out

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in keyed.drop("ch", "cfp").schema.fields
    ) + ", maybe_seen boolean"
    return (
        keyed.groupBy("cuckoo_part")
        .cogroup(cuckoo.groupBy("cuckoo_part"))
        .applyInPandas(_probe, out_schema)
        .drop("cuckoo_part")
    )


def insert_into_cuckoo(
    cuckoo: DataFrame, new_seen: DataFrame, n_buckets: int, n_parts: int = 64
) -> DataFrame:
    """Insert one batch's newly-seen URLs into an existing cuckoo filter —
    with ``SeenState.delete_urls``' eviction the full add/remove lifecycle
    a mutable seen prefilter needs. Cogrouped: each task compacts + places
    into ONE partition's table; partitions with no new keys pass through
    untouched.
    ``n_buckets`` is the width of a partition that has no table yet; a
    partition that has one keeps its own width.

    Capacity contract: tables are fixed-size and the insert never raises;
    each row records its ``load`` and ``overflow``. Past a load bound or
    on overflow, the caller rebuilds wider from the seen table — once per
    doubling, amortized O(1) per batch (``SeenState.commit_batch``)."""
    nb = int(n_buckets)
    keyed = add_cuckoo_keys(new_seen, n_parts=n_parts).select("cuckoo_part", "ch", "cfp")

    def _ins(blobs: pd.DataFrame, keys: pd.DataFrame) -> pd.DataFrame:
        part = int(blobs["cuckoo_part"].iloc[0] if len(blobs) else keys["cuckoo_part"].iloc[0])
        if len(blobs):
            table = (
                np.frombuffer(blobs["blob"].iloc[0], dtype=np.uint16)
                .reshape(-1, BUCKET_SLOTS)
                .copy()
            )
        else:
            table = np.zeros((nb, BUCKET_SLOTS), dtype=np.uint16)
        unplaced = 0
        if len(keys):
            _compact_rows(table)
            occ = (table != 0).sum(axis=1).astype(np.int64)
            unplaced = _place_keys(
                table, occ, keys["ch"].to_numpy(), keys["cfp"].to_numpy(), table.shape[0]
            )
        return _filter_row(part, table, unplaced)

    return (
        cuckoo.groupBy("cuckoo_part")
        .cogroup(keyed.groupBy("cuckoo_part"))
        .applyInPandas(_ins, CUCKOO_SCHEMA)
    )
