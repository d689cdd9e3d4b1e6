"""Partitioned Bloom URL-seen prefilter for a static seen table
(SURVEY.md §4.2 item 1).

The reference's URL-seen is an exact in-memory ``set`` (the reference's
backend/domain/entities.py:153); at 10^10-frontier scale the engine
splits membership into (a) a prefilter — per-partition blobs keyed by
``pmod(xxhash64(url), P)`` — and (b) an exact anti-join against the seen
table for the maybe-seen fraction only. Bloom has no false negatives, so
rows it clears are *definitely new* and skip the exact join entirely;
URL-seen membership stays exact, as the north rule requires.

This module builds and probes a Bloom filter over a seen table that does
not change during the run: the stateless frontier-drain benchmark
(``bench.run_frontier_drain``) and ``schedule_batch``'s default
``seen_filter``. The long-running drain loop's state (``SeenState``)
uses the deletable cuckoo filter in operators/cuckoo.py instead — a
Bloom bit is shared by unknown other keys and can never be unset, so a
deleted source's URLs would keep probing maybe-seen.

Hashing is JVM-side (``F.xxhash64`` twice with different seed columns);
Python only ORs numpy bitmaps inside Arrow batches — no per-row Python.

Scale math (design point): 10^10 URLs at 1% fpp ≈ 12 GiB of bitmap total,
sharded across P=4096 partitions ≈ 3 MiB per blob — each executor probes
only its partition's blob; nothing is driver-resident.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "add_bloom_keys",
    "build_bloom",
    "bloom_prefilter",
    "K_PROBES",
]

K_PROBES = 5


def add_bloom_keys(df: DataFrame, url_col: str = "url", n_parts: int = 64) -> DataFrame:
    """JVM-side keys: partition id + two independent 64-bit hashes
    (double-hashing h1 + i*h2 generates the k probe positions)."""
    return (
        df.withColumn("h1", F.xxhash64(url_col))
        .withColumn("h2", F.xxhash64(url_col, F.lit(1)))
        .withColumn("bloom_part", F.pmod(F.xxhash64(url_col, F.lit(2)), F.lit(n_parts)).cast("int"))
    )


def _positions(h1: np.ndarray, h2: np.ndarray, m_bits: int) -> Iterator[np.ndarray]:
    h1u = h1.astype(np.uint64)
    h2u = h2.astype(np.uint64) | np.uint64(1)  # odd => full-cycle stride
    for i in range(K_PROBES):
        yield ((h1u + np.uint64(i) * h2u) % np.uint64(m_bits)).astype(np.int64)


def set_bits(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray, m_bits: int) -> None:
    """OR the k probe positions of (h1,h2) into the bitmap (uint8 array)."""
    for pos in _positions(h1, h2, m_bits):
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))


def probe_bits(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray, m_bits: int) -> np.ndarray:
    """Vectorized membership probe; True = maybe present (never a false
    negative for keys previously set with set_bits)."""
    maybe = np.ones(len(h1), dtype=bool)
    for pos in _positions(h1, h2, m_bits):
        maybe &= (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1 == 1
    return maybe


BITS_PER_KEY = 16  # ~0.05% fpp at k=5


def build_bloom(
    seen: DataFrame, n_parts: int = 64, m_bits_per_part: int | None = None
) -> DataFrame:
    """Build per-partition Bloom blobs from a static seen table.
    Returns (bloom_part:int, blob:binary).

    m_bits_per_part=None sizes the bitmap from the actual key count
    (BITS_PER_KEY bits per key, rounded up to a power of two, >= 2^13) —
    an oversized filter wastes the exact bytes that make broadcast
    delivery cheap."""
    if m_bits_per_part is None:
        n_keys = seen.count()
        need = max(1 << 13, (n_keys * BITS_PER_KEY) // max(n_parts, 1))
        m_bits_per_part = 1 << (need - 1).bit_length()
    keyed = add_bloom_keys(seen, n_parts=n_parts)

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m_bits_per_part // 8, dtype=np.uint8)
        set_bits(bits, pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), m_bits_per_part)
        return pd.DataFrame({"bloom_part": [int(pdf["bloom_part"].iloc[0])], "blob": [bits.tobytes()]})

    return (
        keyed.select("bloom_part", "h1", "h2")
        .groupBy("bloom_part")
        .applyInPandas(_build, "bloom_part int, blob binary")
    )


BROADCAST_BLOOM_MAX_BYTES = 128 << 20


def bloom_prefilter(
    candidates: DataFrame,
    bloom: DataFrame,
    n_parts: int = 64,
) -> DataFrame:
    """Tag candidates with ``maybe_seen``. The bitmap width is carried by
    the blob itself (m_bits = 8 * len(blob)); maybe_seen=false is
    authoritative (no false negatives). n_parts MUST match the build.

    How the blobs reach the probe tasks depends on the filter's size
    (one blob's size times ``n_parts``), the same threshold logic Spark
    applies to broadcast joins:
    - under BROADCAST_BLOOM_MAX_BYTES: ship ALL blobs to every executor
      and probe inside mapInArrow in the same stage as the scan — zero
      shuffle;
    - otherwise: cogroup — shuffle candidates by bloom_part, so each
      task probes exactly one blob. The only option at 10^10 scale
      (total filter ~15 GiB — never driver- or executor-resident in
      full)."""
    keyed = add_bloom_keys(candidates, n_parts=n_parts)

    # peek at size cheaply: one blob * n_parts upper bound
    first = bloom.select("blob").head(1)
    if (len(first[0].blob) if first else 0) * n_parts <= BROADCAST_BLOOM_MAX_BYTES:
        import pyarrow as pa

        blobs = {int(r.bloom_part): bytes(r.blob) for r in bloom.collect()}
        bcast = candidates.sparkSession.sparkContext.broadcast(blobs)
        names = [f.name for f in candidates.schema.fields] + ["maybe_seen"]

        def _probe_bcast(it):
            # mapInArrow: the candidate string columns pass through as
            # Arrow buffers — no pandas object materialization (which
            # anti-scales past ~8 workers on allocator contention).
            local = bcast.value
            for b in it:
                parts = b.column("bloom_part").to_numpy()
                h1 = b.column("h1").to_numpy()
                h2 = b.column("h2").to_numpy()
                maybe = np.zeros(len(parts), dtype=bool)
                for part in np.unique(parts):
                    blob = local.get(int(part))
                    if blob is None:
                        continue
                    sel = parts == part
                    bits = np.frombuffer(blob, dtype=np.uint8)
                    maybe[sel] = probe_bits(bits, h1[sel], h2[sel], len(bits) * 8)
                keep = [b.column(n) for n in names[:-1]]
                yield pa.record_batch(keep + [pa.array(maybe)], names=names)

        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
        ) + ", maybe_seen boolean"
        return keyed.mapInArrow(_probe_bcast, out_schema)

    def _probe(cands: pd.DataFrame, blobs: pd.DataFrame) -> pd.DataFrame:
        out = cands.drop(columns=["h1", "h2"])
        if not len(cands) or not len(blobs):
            # no blob => nothing seen in this partition
            out["maybe_seen"] = pd.Series([False] * len(cands), dtype=bool)
            return out
        bits = np.frombuffer(blobs["blob"].iloc[0], dtype=np.uint8)
        out["maybe_seen"] = probe_bits(
            bits, cands["h1"].to_numpy(), cands["h2"].to_numpy(), len(bits) * 8
        )
        return out

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in keyed.drop("h1", "h2").schema.fields
    ) + ", maybe_seen boolean"
    return (
        keyed.groupBy("bloom_part")
        .cogroup(bloom.groupBy("bloom_part"))
        .applyInPandas(_probe, out_schema)
        .drop("bloom_part")
    )
