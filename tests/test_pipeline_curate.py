"""Composed curation pipeline (crawler_spark/pipeline.py): every stage's
planted fixture is constructed to fire IN COMPOSITION — chrome that must
strip before dedup can catch anything, a near-dup that survives quality,
a span-mosaic that only the exposure filter catches, a token budget that
forces the mix to drop docs — and every boundary is checked against
pure-Python recomputation (md5/hash order included), so the glue between
the individually-proven operators is what this file pins. The pipeline's
own arithmetic helpers (integer sqrt, sequence packing, the shard deal)
are also checked here on their own, over the sf0.001 fixture corpus."""

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from crawler_spark.pipeline import PIPELINE_STAGES, curate_corpus
from crawler_spark.plans.inspect import formatted_plan

SF = "/root/testdata/sf0.001"

CHROME = "nav home about contact hosta"


def _body(i: int, n: int) -> str:
    """n-token English-passing body: unique words + the/is stopword mix."""
    toks = []
    for j in range(n):
        if j % 5 == 0:
            toks.append("the")
        elif j % 7 == 3:
            toks.append("is")
        else:
            toks.append(f"w{i}x{j}")
    return " ".join(toks)


@pytest.fixture(scope="module")
def corpus_rows():
    rows = []  # (doc_id, host, lang, text)
    # host A: 5 chrome-prefixed good docs + 1 chrome-prefixed short doc.
    for i in range(5):
        rows.append((i, "hosta", "en", f"{CHROME} {_body(i, 25)}"))
    rows.append((5, "hosta", "en", f"{CHROME} {_body(5, 10)}"))  # too_short after strip
    # host B: a near-dup pair (one appended token) + 2 plain docs -> the
    # pair's shared blocks sit at 50% < the 60% boilerplate threshold.
    t10 = _body(10, 30)
    rows.append((10, "hostb", "en", t10))
    rows.append((11, "hostb", "en", t10 + " zz"))  # LSH dup of 10
    rows.append((12, "hostb", "en", _body(12, 30)))
    rows.append((13, "hostb", "en", _body(13, 30)))
    # host C: a span MOSAIC (first 15 tokens of doc 21 + first 15 of 22):
    # Jaccard vs either source ~0.30 -> survives LSH; but 16 of its 23
    # 8-token windows are cross-doc duplicated -> dup_milli ~696 > 500.
    # 2 filler docs keep the shared blocks under the boilerplate threshold.
    t21, t22 = _body(21, 30), _body(22, 30)
    mosaic = " ".join(t21.split()[:15] + t22.split()[:15])
    rows.append((20, "hostc", "fr", mosaic))
    rows.append((21, "hostc", "fr", t21))
    rows.append((22, "hostc", "fr", t22))
    rows.append((23, "hostc", "fr", _body(23, 30)))
    rows.append((24, "hostc", "fr", _body(24, 30)))
    return rows


MIX_BUDGET = 200  # tokens — forces the mix to drop docs on every host


@pytest.fixture(scope="module")
def stages(spark, corpus_rows):
    docs = spark.createDataFrame(
        corpus_rows, "doc_id long, host string, lang string, text string"
    )
    def _cb(name, df):
        # localCheckpoint both materializes the stage AND truncates the
        # logical plan — the composed 7-stage lineage (with LSH self-joins
        # doubling the subtree per reference) otherwise grows a plan tree
        # big enough to OOM the driver's plan printer. Same treatment the
        # engine's iterative operators use (queries_scale label
        # propagation / HITS).
        return df.localCheckpoint(eager=True)

    out = curate_corpus(docs, mix_budget=MIX_BUDGET, stage_cb=_cb)
    yield {name: df.collect() for name, df in out.items()}


def test_stage_names_cover_the_pipeline(stages):
    assert tuple(stages) == PIPELINE_STAGES


def test_boilerplate_strip_removes_chrome_only_on_hosta(stages, corpus_rows):
    by_id = {r["doc_id"]: r for r in stages["boilerplate_strip"]}
    raw = {d: t for d, _h, _l, t in corpus_rows}
    for i in range(6):  # chrome gone, body intact, lang carried
        assert by_id[i]["text"] == raw[i][len(CHROME) + 1 :]
        assert by_id[i]["lang"] == "en"
    for d in (10, 11, 12, 13, 20, 21, 22, 23, 24):  # no strip off-host
        assert by_id[d]["text"] == raw[d]
    assert all(r["n_tokens"] == len(r["text"].split()) for r in by_id.values())


def test_quality_gate_runs_on_cleaned_text(stages):
    ids = {r["doc_id"] for r in stages["quality_filter"]}
    assert 5 not in ids  # 10 tokens AFTER strip < 20 -> too_short
    assert ids == {0, 1, 2, 3, 4, 10, 11, 12, 13, 20, 21, 22, 23, 24}


def test_lsh_dedup_drops_the_near_dup_keep_min(stages):
    ids = {r["doc_id"] for r in stages["dedup_minhash_lsh"]}
    assert 11 not in ids and 10 in ids
    assert ids == {0, 1, 2, 3, 4, 10, 12, 13, 20, 21, 22, 23, 24}


def test_span_exposure_drops_the_mosaic_not_its_sources(stages):
    ids = {r["doc_id"] for r in stages["dup_span_filter"]}
    # mosaic: 16/23 windows duplicated (695 milli) > 500 -> dropped;
    # sources: 8/23 (347 milli) each -> kept.
    assert 20 not in ids
    assert {21, 22} <= ids
    assert ids == {0, 1, 2, 3, 4, 10, 12, 13, 21, 22, 23, 24}


def _mix_order_key(doc_id: int) -> str:
    return hashlib.md5(f"mix0#{doc_id}".encode()).hexdigest()


def test_domain_mix_is_the_hash_ordered_quota_prefix(stages):
    survivors = {r["doc_id"]: r for r in stages["dup_span_filter"]}
    mixed = stages["domain_mix"]
    picked_tokens = {}
    for r in mixed:
        picked_tokens.setdefault(r["host"], []).append(r["tokens"])
    # recompute quotas: isqrt(tokens) weights, Hamilton over MIX_BUDGET
    by_host = {}
    for r in survivors.values():
        by_host.setdefault(r["host"], []).append(r)
    weights = {h: math.isqrt(sum(x["n_tokens"] for x in v)) for h, v in by_host.items()}
    total_w = sum(weights.values())
    base = {h: (MIX_BUDGET * w) // total_w for h, w in weights.items()}
    rem = {h: (MIX_BUDGET * w) % total_w for h, w in weights.items()}
    leftover = MIX_BUDGET - sum(base.values())
    for h in sorted(rem, key=lambda h: (-rem[h], h))[:leftover]:
        base[h] += 1
    assert sum(base.values()) == MIX_BUDGET
    # per host: the mix keeps exactly the hash-ordered prefix under quota
    picked_ids = {h: set() for h in by_host}
    for r in mixed:
        picked_ids[r["host"]].add(r["doc_id"])
    for h, docs in by_host.items():
        order = sorted(docs, key=lambda r: (_mix_order_key(r["doc_id"]), r["doc_id"]))
        cum, expect = 0, set()
        for r in order:
            cum += r["n_tokens"]
            if cum <= base[h]:
                expect.add(r["doc_id"])
        assert picked_ids.get(h, set()) == expect, f"host {h}"
        assert sum(picked_tokens.get(h, [])) <= base[h]
    # the budget is binding: at least one host dropped at least one doc
    assert sum(len(v) for v in picked_ids.values()) < len(survivors)


def test_token_pack_offsets_are_per_lang_prefix_sums(stages):
    mixed = {r["doc_id"]: r for r in stages["domain_mix"]}
    packed = sorted(stages["token_pack"], key=lambda r: (r["lang"], r["doc_id"]))
    assert {r["doc_id"] for r in packed} == set(mixed)
    offsets = {}
    for r in packed:
        assert r["offset"] == offsets.get(r["lang"], 0)
        assert r["tokens"] == mixed[r["doc_id"]]["tokens"]
        assert r["chunk_first"] == r["offset"] // 512
        offsets[r["lang"]] = r["offset"] + r["tokens"]


def test_shard_shuffle_is_a_complete_deterministic_deal(stages):
    mixed = {r["doc_id"]: r for r in stages["domain_mix"]}
    shards = stages["shard_shuffle"]
    assert {r["doc_id"] for r in shards} == set(mixed)
    by_shard = {}
    for r in shards:
        hv = int(hashlib.md5(f"epoch0#{r['doc_id']}".encode()).hexdigest()[:15], 16)
        assert r["shard_id"] == hv % 8
        by_shard.setdefault(r["shard_id"], []).append((hv, r))
    for rows in by_shard.values():
        rows.sort(key=lambda t: (t[0], t[1]["doc_id"]))
        off = 0
        for pos0, (_hv, r) in enumerate(rows):
            assert r["pos"] == pos0 + 1
            assert r["shard_offset"] == off
            off += r["tokens"]


# ---------------------------------------------------------------------------
# the pipeline's own helpers, over the sf0.001 fixture corpus
# ---------------------------------------------------------------------------


def _packed(spark):
    """token_pack_frame over the SF corpus, chars/4 tokens (floor 1)."""
    from crawler_spark.pipeline import token_pack_frame
    from crawler_spark.queries import load

    return token_pack_frame(
        load(spark, SF, "documents").select(
            "doc_id",
            "lang",
            F.greatest(F.expr("n_chars DIV 4"), F.lit(1)).cast("long").alias("tokens"),
        )
    )


def test_token_pack_stream_is_contiguous_and_chunk_math_exact(spark):
    from crawler_spark.pipeline import _PACK_WINDOW

    rows = _packed(spark).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    assert len(rows) == len(docs)
    chars = {d["doc_id"]: d["n_chars"] for d in docs}
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["doc_id"])
        # contiguous concatenation: each doc starts where the previous ended
        off = 0
        for r in rs:
            assert r["tokens"] == max(chars[r["doc_id"]] // 4, 1)
            assert r["offset"] == off
            off += r["tokens"]
            assert r["chunk_first"] == r["offset"] // _PACK_WINDOW
            assert r["chunk_last"] == (r["offset"] + r["tokens"] - 1) // _PACK_WINDOW
            assert r["crosses_boundary"] == (r["chunk_last"] > r["chunk_first"])
        # every window boundary inside the stream is crossed by exactly
        # the docs that straddle it: total crossings = windows touched
        # minus docs (each doc adds chunk_last-chunk_first extra windows)
        crossings = sum(r["chunk_last"] - r["chunk_first"] for r in rs)
        last = rs[-1]
        n_windows = last["chunk_last"] + 1
        total_tokens = sum(r["tokens"] for r in rs)
        assert n_windows == (total_tokens + _PACK_WINDOW - 1) // _PACK_WINDOW
        assert crossings <= n_windows - 1  # a boundary is crossed at most once


def test_token_pack_window_partitions_by_shard(spark):
    plan = formatted_plan(_packed(spark))
    assert re.search(r"Window.*\[lang", plan, re.S), plan


def test_shard_shuffle_is_a_seekable_permutation(spark):
    """Every doc lands in exactly one shard; per-shard pos is contiguous
    from 1; shard_offset is the running token prefix sum; and the
    mapping is reproducible (same salt -> same permutation)."""
    from collections import defaultdict

    from crawler_spark.pipeline import _SHARD_SHUF_N, shard_shuffle_frame
    from crawler_spark.queries import load

    def deal():
        toks = load(spark, SF, "documents").select(
            "doc_id",
            F.greatest(F.expr("n_chars DIV 4"), F.lit(1)).cast("long").alias("tokens"),
        )
        return shard_shuffle_frame(toks).collect()

    rows = deal()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard_id"]].append(r)
    assert set(by_shard) <= set(range(_SHARD_SHUF_N))
    for rs in by_shard.values():
        rs.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in rs] == list(range(1, len(rs) + 1))
        off = 0
        for r in rs:
            assert r["shard_offset"] == off
            off += r["tokens"]
    again = {r["doc_id"]: (r["shard_id"], r["pos"]) for r in deal()}
    assert again == {r["doc_id"]: (r["shard_id"], r["pos"]) for r in rows}


# ---------------------------------------------------------------------------
# exact integer sqrt (the curation pipeline's domain-mix weights)
# ---------------------------------------------------------------------------


def test_isqrt_col_is_exact_integer_sqrt(spark):
    """The +/-1-corrected double sqrt must equal math.isqrt on perfect
    squares, their neighbours, and big values near the double-precision
    edge — the exactness the cross-engine hash depends on."""
    from crawler_spark.pipeline import _isqrt_col

    vals = [0, 1, 2, 3, 4, 8, 9, 10, 15, 16, 17, 24, 25, 26]
    vals += [k * k + d for k in (10**3, 10**6, 2**26 - 1) for d in (-1, 0, 1)]
    vals += [2**52 - 1, 10**15, 10**15 + 7]
    frame = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["v"]: r["s"]
        for r in frame.select("v", _isqrt_col("v").alias("s")).collect()
    }
    assert got == {v: math.isqrt(v) for v in vals}


# ---------------------------------------------------------------------------
# module boundary
# ---------------------------------------------------------------------------


def test_pipeline_imports_no_private_names():
    """The pipeline reaches the other crawler_spark modules only through
    their public names; a `_`-prefixed import would tie it to a query
    module's internals again."""
    import ast

    import crawler_spark.pipeline as pipeline

    with open(pipeline.__file__) as fh:
        tree = ast.parse(fh.read())
    private = [
        f"{node.module}.{alias.name}"
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and (node.level > 0 or (node.module or "").startswith("crawler_spark"))
        for alias in node.names
        if alias.name.startswith("_")
    ]
    assert not private, private
