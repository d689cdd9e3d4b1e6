"""The composed corpus-curation pipeline — the seven-stage job a 100 TB
training-data run actually executes, chained over ONE frame so fingerprints
and token counts are computed once and reused across stages:

    1. boilerplate_strip   per-host chrome removal, kept text reassembled
    2. quality_filter      C4/Gopher-style accept/reject on the CLEANED text
    3. dedup_minhash_lsh   near-dup removal (keep-min), bucketed, never all-pairs
    4. dup_span_filter     drop docs whose w-token windows are mostly duplicated
                           across the surviving corpus (Lee-et-al exposure form)
    5. domain_mix          tokens^0.5 temperature quota per domain (Hamilton),
                           APPLIED by hash-ordered stratified take per domain
    6. token_pack          per-lang concatenate-and-chunk offsets
    7. shard_shuffle       deterministic hash deal into training shards

Every stage is built from helpers in queries.py / queries_search.py /
queries_scale.py that have their own tests. Stages 1 and 3 also run as
standalone queries with a DuckDB oracle (boilerplate_strip,
dedup_minhash_lsh); the others are oracle-checked only in composition,
by curation_pipeline_full. This module pins the COMPOSITION: stage
order (strip before dedup so chrome doesn't mask duplicates — the
q_curation_pipeline ordering argument), which columns flow between
stages (text is dropped after stage 4; only (doc_id, host, lang,
tokens) reach the mix), and the barrier placement a real run needs
(each stage's output feeds >= 1 downstream consumer, so the bench
persists stage outputs — see tools/pipeline_bench.py, which records
per-stage wall + shuffle bytes at 10^7 docs per VERDICT r3 task 6).

Scale notes (what survives 100x):
- text leaves the shuffle plan after stage 4 — stages 5-7 move only ids +
  integer token counts;
- stage 3's candidate generation is the LSH band join with the hot-bucket
  guard (queries._minhash_rep_pairs): bounded cliques cost O(clique^2)
  PAIRS but cliques are collapsed to reps for exact dups and verified
  pairs only for band-colliding reps;
- stage 4 shares stage 1's tokenization cost class (one narrow explode)
  and shuffles only 128-bit fingerprints;
- stages 5-7 shuffle domain-sized / shard-sized keys with window prefix
  sums — never a global sort.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .queries import minhash_dedup_map, quality_filter
from .queries_scale import (
    _isqrt_col,
    _largest_remainder,
    shard_shuffle_frame,
    token_pack_frame,
)
from .queries_search import dup_span_exposure, strip_boilerplate_text

__all__ = ["curate_corpus", "PIPELINE_STAGES"]

PIPELINE_STAGES = (
    "boilerplate_strip",
    "quality_filter",
    "dedup_minhash_lsh",
    "dup_span_filter",
    "domain_mix",
    "token_pack",
    "shard_shuffle",
)

_MIX_SALT = "mix0"  # deterministic per-domain take order (epoch-style salt)


def curate_corpus(
    docs: DataFrame,
    *,
    mix_budget: int | Callable[[], int],
    dup_span_max_milli: int = 500,
    span_w: int = 8,
    n_shards: int = 8,
    stage_cb: Callable[[str, DataFrame], DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Run the seven-stage curation pipeline over a
    (doc_id, host, lang, text) frame.

    ``mix_budget`` is the token budget stage 5 apportions across domains
    (tokens^0.5 temperature, Hamilton rounding — quotas sum to the budget
    exactly); pass a zero-arg callable to defer it until stage 5 is
    constructed — i.e. until after stage 4's callback ran, so a caller
    can derive the budget from the measured surviving token mass (the
    bench sets 25% of it). ``stage_cb(name, df) -> df`` is called once per stage with
    its output frame; the bench uses it to persist + measure each stage
    (default: identity, leaving one lazy composed plan). Returns every
    stage's output frame by name, final training shards under
    'shard_shuffle'."""
    cb = stage_cb or (lambda _name, df: df)
    out: dict[str, DataFrame] = {}

    # 1. per-host boilerplate strip, kept text reassembled, lang carried
    # through the block explode (narrow) instead of a corpus-sized join.
    stripped = cb(
        "boilerplate_strip",
        strip_boilerplate_text(
            docs.select("doc_id", "host", "lang", "text"), carry_cols=("lang",)
        ).filter(F.col("n_tokens") > 0),
    )
    out["boilerplate_strip"] = stripped

    # 2. quality gate on the CLEANED text (the composition order that makes
    # the stats honest — chrome would otherwise inflate stopword counts).
    verdicts = quality_filter(stripped.select("doc_id", "text"))
    accepted = cb(
        "quality_filter",
        stripped.join(
            verdicts.filter(F.col("accepted")).select("doc_id"), "doc_id", "left_semi"
        ),
    )
    out["quality_filter"] = accepted

    # 3. near-dup removal: LSH map (dup -> keep-min), anti-join the dups out.
    dup_map = minhash_dedup_map(accepted.select("doc_id", "text"))
    deduped = cb(
        "dedup_minhash_lsh",
        accepted.join(
            dup_map.select(F.col("dup_doc_id").alias("doc_id")), "doc_id", "left_anti"
        ),
    )
    out["dedup_minhash_lsh"] = deduped

    # 4. duplicated-span exposure filter over the SURVIVING corpus: docs
    # whose remaining text is still mostly cross-doc-repeated spans go.
    # Docs shorter than span_w have no windows -> no exposure row -> kept.
    exposure = dup_span_exposure(deduped.select("doc_id", "text"), w=span_w)
    span_ok = cb(
        "dup_span_filter",
        deduped.join(
            exposure.filter(F.col("dup_milli") > dup_span_max_milli).select("doc_id"),
            "doc_id",
            "left_anti",
        ),
    )
    out["dup_span_filter"] = span_ok

    # text is no longer needed: stages 5-7 move only ids + token counts.
    toks = span_ok.select("doc_id", "host", "lang", F.col("n_tokens").alias("tokens"))

    # 5. temperature mix: tokens^0.5 per-domain weights, Hamilton quotas of
    # mix_budget tokens, applied by a deterministic hash-ordered take per
    # domain (cumulative tokens <= quota). The quota table is domain-sized
    # (broadcast); the take is a per-domain window prefix sum.
    budget = int(mix_budget() if callable(mix_budget) else mix_budget)
    domains = (
        toks.groupBy("host")
        .agg(F.sum("tokens").cast("long").alias("tokens"))
        .withColumn("weight", _isqrt_col("tokens"))
    )
    alloc = _largest_remainder(domains, "weight", "host", budget).select(
        "host", F.col("_lr_quota").alias("quota_tokens")
    )
    worder = (
        Window.partitionBy("host")
        .orderBy(F.md5(F.concat_ws("#", F.lit(_MIX_SALT), F.col("doc_id"))), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mixed = cb(
        "domain_mix",
        toks.withColumn("cum_tokens", F.sum("tokens").over(worder))
        .join(F.broadcast(alloc), "host")
        .filter(F.col("cum_tokens") <= F.col("quota_tokens"))
        .select("doc_id", "host", "lang", "tokens"),
    )
    out["domain_mix"] = mixed

    # 6. pack offsets per lang shard (512-token windows by default).
    packed = cb("token_pack", token_pack_frame(mixed.select("doc_id", "lang", "tokens")))
    out["token_pack"] = packed

    # 7. deal into training shards; final output.
    shards = cb(
        "shard_shuffle",
        shard_shuffle_frame(mixed.select("doc_id", "tokens"), n_shards=n_shards),
    )
    out["shard_shuffle"] = shards
    return out
