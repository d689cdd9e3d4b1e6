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

Stages 1, 3 and 4 call the query modules' public operators
(strip_boilerplate_text, minhash_dedup_map, dup_span_exposure); the
quality cascade and the exact arithmetic of stages 5-7 (largest-remainder
quotas, integer sqrt, sequence packing, the shard deal) live below
curate_corpus, and every helper has its own tests. Stages 1 and 3 also
run as standalone queries with a DuckDB oracle (boilerplate_strip,
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

from .queries import LANG_MARKERS, STOPWORDS, minhash_dedup_map, query_barrier
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


# ---------------------------------------------------------------------------
# quality filter (stage 2)
# ---------------------------------------------------------------------------

# One Arrow-batched pass computes every per-document token statistic
# quality_filter needs. This REPLACED the previous pure-JVM
# higher-order-function form (transform/filter/aggregate over a
# sorted bigram array): Catalyst evaluates lambda higher-order functions
# INTERPRETED, per element, outside whole-stage codegen — measured 2.85 s
# vs 0.28 s (10x) for the identical statistics over 5,000 docs on one
# core, a per-core factor that holds at any scale since both forms are
# map-only. The "UDFs are the slow path" rule applies to row-at-a-time
# Python, not to an Arrow-batched stage whose per-doc work is dict-hash
# counting at C speed. Semantics are pinned by the pure-Python Counter
# property test (tests/test_unit_functions.py), the cascade-branch test
# (tests/test_pipeline_ops.py) and the curation_pipeline_full oracle.
_TEXT_STAT_SCHEMA = (
    "doc_id long, n_tokens int, distinct_milli long, n_bigrams int, "
    "top_bigram_milli long, stop_cnt int, "
    + ", ".join(f"{lang}_hits int" for lang in LANG_MARKERS)
)


def _text_stat_batches(it):
    import math
    from collections import Counter

    import pandas as pd

    langs = list(LANG_MARKERS)
    int_cols = ["n_tokens", "n_bigrams", "stop_cnt"] + [f"{la}_hits" for la in langs]
    for pdf in it:
        out: dict[str, list] = {
            name.split(" ")[0]: [] for name in _TEXT_STAT_SCHEMA.split(", ")
        }
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            toks = text.split(" ")  # literal-space regex == str.split(" ")
            n = len(toks)  # never 0: split("") == [""]
            counts = Counter(toks)
            n_bigrams = n - 1 if n >= 2 else 0
            best = max(Counter(zip(toks, toks[1:])).values()) if n_bigrams else 0
            out["doc_id"].append(doc_id)
            out["n_tokens"].append(n)
            out["distinct_milli"].append(math.floor(1000.0 * len(counts) / n))
            out["n_bigrams"].append(n_bigrams)
            out["top_bigram_milli"].append(
                math.floor(1000.0 * best / n_bigrams) if n_bigrams else 0
            )
            out["stop_cnt"].append(sum(counts[w] for w in STOPWORDS))
            for lang in langs:
                out[f"{lang}_hits"].append(sum(counts[w] for w in LANG_MARKERS[lang]))
        yield pd.DataFrame(
            {
                k: pd.Series(v, dtype="int32" if k in int_cols else "int64")
                for k, v in out.items()
            }
        )


def text_stat_frame(docs: DataFrame) -> DataFrame:
    """Per-document token statistics over any (doc_id, text) frame —
    the map-only base of quality_filter; its repetition signals are
    property-tested against a Counter oracle in tests/test_unit_functions.py."""
    return docs.select("doc_id", "text").mapInPandas(
        _text_stat_batches, _TEXT_STAT_SCHEMA
    )


# Composite quality-filter thresholds (Gopher/C4-style cascade), chosen
# to split the synthetic corpus non-trivially (sf0.01: n_tok 10-99,
# diversity p10 ~321 milli, stop_cnt p10 = 1, 218/500 docs en).
_QF_MIN_TOKENS = 20
_QF_MIN_STOP = 2
_QF_MIN_DISTINCT_MILLI = 350
_QF_MAX_TOP_BIGRAM_MILLI = 200


def quality_filter(docs: DataFrame) -> DataFrame:
    """Composite training-data quality filter over any (doc_id, text)
    frame: the accept/reject decision a C4/Gopher-style pipeline makes
    per document, as ONE deterministic rule cascade (first failing rule
    names the reject_reason): too_short -> non_english (marker-stopword
    langid) -> low_stopword -> low_diversity (distinct-token fraction)
    -> repetitive (top-bigram mass) -> accept. One Arrow-batched stat
    pass (text_stat_frame) + a JVM when-cascade — map-only, zero
    shuffles, embarrassingly parallel at 100 TB."""
    scored = text_stat_frame(docs).withColumn(
        "is_en",
        (F.col("en_hits") >= F.col("de_hits"))
        & (F.col("en_hits") >= F.col("fr_hits"))
        & (F.col("en_hits") >= F.col("es_hits")),
    )
    reason = (
        F.when(F.col("n_tokens") < _QF_MIN_TOKENS, "too_short")
        .when(~F.col("is_en"), "non_english")
        .when(F.col("stop_cnt") < _QF_MIN_STOP, "low_stopword")
        .when(F.col("distinct_milli") < _QF_MIN_DISTINCT_MILLI, "low_diversity")
        .when(F.col("top_bigram_milli") > _QF_MAX_TOP_BIGRAM_MILLI, "repetitive")
        .otherwise("accept")
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        reason.alias("reject_reason"),
        (reason == "accept").alias("accepted"),
    )


# ---------------------------------------------------------------------------
# largest-remainder apportionment and exact integer sqrt (the curation
# pipeline's domain-mix quotas)
# ---------------------------------------------------------------------------


def _largest_remainder(df: DataFrame, weight_col: str, tie_col: str, budget: int) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of ``budget`` across
    the rows of ``df``: floor shares first, then one extra unit to the
    rows with the largest remainders (ties broken by ``tie_col``, so the
    result is deterministic). Adds columns _lr_base, _lr_rem, _lr_quota;
    sum(_lr_quota) == budget exactly.

    Scale shape: the totals/leftover side tables are single rows
    (broadcast), and the remainder rank sorts only the df rows
    themselves (domains, not corpus)."""
    totals = df.agg(F.sum(weight_col).alias("_lr_total"))
    based = query_barrier(
        df.crossJoin(F.broadcast(totals))
        .withColumn("_lr_base", F.expr(f"({budget} * {weight_col}) DIV _lr_total"))
        .withColumn("_lr_rem", F.expr(f"({budget} * {weight_col}) % _lr_total"))
    )
    leftover = based.agg((F.lit(budget) - F.sum("_lr_base")).alias("_lr_leftover"))
    win = Window.orderBy(F.desc("_lr_rem"), F.asc(tie_col))
    return (
        based.crossJoin(F.broadcast(leftover))
        .withColumn("_lr_rk", F.row_number().over(win))
        .withColumn(
            "_lr_quota",
            (
                F.col("_lr_base")
                + F.when(F.col("_lr_rk") <= F.col("_lr_leftover"), 1).otherwise(0)
            ).cast("long"),
        )
        .drop("_lr_total", "_lr_rk", "_lr_leftover")
    )


def _isqrt_col(c: str):
    """Exact integer sqrt of a non-negative BIGINT column, cross-engine:
    floor of the double sqrt, then a +/-1 correction against the exact
    integer squares. Double sqrt is within 1 ulp below 2^52, so the
    correction makes Spark and DuckDB agree bit-for-bit even where their
    float rounding differs."""
    s0 = F.expr(f"CAST(floor(sqrt(CAST({c} AS DOUBLE))) AS BIGINT)")
    return (
        s0
        + F.when((s0 + 1) * (s0 + 1) <= F.col(c), 1).otherwise(0)
        - F.when(s0 * s0 > F.col(c), 1).otherwise(0)
    ).cast("long")


# ---------------------------------------------------------------------------
# training-sequence packing (concatenate-and-chunk)
# ---------------------------------------------------------------------------

_PACK_WINDOW = 512  # context-window length in tokens


def token_pack_frame(toks: DataFrame) -> DataFrame:
    """GPT-style sequence packing over a (doc_id, lang, tokens) frame:
    documents are concatenated in doc_id order per language shard and
    cut into _PACK_WINDOW-token context windows. Per document: its
    stream offset, the first/last window it lands in, and whether it
    crosses a window boundary. curate_corpus chains it after
    the mix.

    Scale shape: the prefix sum is a window partitioned BY SHARD with an
    explicit rows frame — never a global single-task cumsum; everything
    else is map-only integer arithmetic."""
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    L = _PACK_WINDOW
    return (
        toks.withColumn("offset", F.sum("tokens").over(w) - F.col("tokens"))
        .withColumn("chunk_first", F.expr(f"offset DIV {L}"))
        .withColumn("chunk_last", F.expr(f"(offset + tokens - 1) DIV {L}"))
        .select(
            "doc_id",
            "lang",
            "tokens",
            "offset",
            "chunk_first",
            "chunk_last",
            (F.col("chunk_last") > F.col("chunk_first")).alias("crosses_boundary"),
        )
    )


# ---------------------------------------------------------------------------
# training-shard shuffle (pack -> shuffle -> shard)
# ---------------------------------------------------------------------------

_SHARD_SHUF_N = 8         # training shards (production: O(10^3-10^4) files)
_SHARD_SHUF_SALT = "epoch0"  # new salt per epoch = a fresh permutation


def shard_shuffle_frame(toks: DataFrame, n_shards: int = _SHARD_SHUF_N) -> DataFrame:
    """Deterministic hash deal of a (doc_id, tokens) frame into
    ``n_shards`` training shards: md5(salt#doc_id) picks the shard and
    the order inside it, so the permutation is reproducible and a new
    salt per epoch reshuffles. Per document: shard_id, 1-based pos, and
    shard_offset, the running token prefix sum a loader seeks by.
    curate_corpus ends with it."""
    hashed = toks.withColumn(
        "hv",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.lit(_SHARD_SHUF_SALT), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    ).withColumn("shard_id", (F.col("hv") % n_shards).cast("long"))
    w = Window.partitionBy("shard_id").orderBy("hv", "doc_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        hashed.withColumn("pos", F.row_number().over(w).cast("long"))
        .withColumn(
            "shard_offset",
            (F.sum("tokens").over(wsum) - F.col("tokens")).cast("long"),
        )
        .select("doc_id", "shard_id", "pos", "tokens", "shard_offset")
    )
