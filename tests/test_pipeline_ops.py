"""Span-level block dedup + benchmark-contamination check: planted
fixtures prove the interesting paths (cross-doc duplicate spans, leaked
benchmark items), and a plan assertion pins the probe join to a
broadcast (the corpus side must never shuffle for it)."""

import hashlib

from pyspark.sql import functions as F

from crawler_spark.queries import (
    _BLOCK_TOKENS,
    _PROBE_MOD,
    _PROBE_OFFSET,
    block_dedup,
    contamination_hits,
    q_contamination,
)

SF = "/root/testdata/sf0.001"


def _words(tag: str, n: int) -> str:
    return " ".join(f"{tag}{i}" for i in range(n))


def test_block_dedup_removes_cross_doc_duplicate_spans(spark):
    boiler = _words("boiler", _BLOCK_TOKENS)  # exactly one shared block
    rows = [
        (0, boiler + " " + _words("a", _BLOCK_TOKENS)),  # first owner keeps it
        (1, _words("b", _BLOCK_TOKENS) + " " + boiler),  # later copy drops it
        (2, _words("c", 2 * _BLOCK_TOKENS)),  # untouched doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in block_dedup(docs).collect()}

    assert out[0].n_blocks == 2 and out[0].n_kept == 2
    assert out[1].n_blocks == 2 and out[1].n_kept == 1
    assert out[2].n_blocks == 2 and out[2].n_kept == 2
    # reassembly keeps surviving blocks in original order
    assert out[1].kept_fp == hashlib.md5(_words("b", _BLOCK_TOKENS).encode()).hexdigest()
    assert out[0].kept_fp == hashlib.md5(rows[0][1].encode()).hexdigest()


def test_block_dedup_within_doc_repeat_kept_once(spark):
    blk = _words("x", _BLOCK_TOKENS)
    docs = spark.createDataFrame([(5, blk + " " + blk)], "doc_id long, text string")
    (r,) = block_dedup(docs).collect()
    assert r.n_blocks == 2 and r.n_kept == 1
    assert r.kept_fp == hashlib.md5(blk.encode()).hexdigest()


def test_contamination_finds_planted_leaks_at_fixture_scale(spark):
    out = {r.doc_id: r.n_probe_hits for r in q_contamination(spark, SF).collect()}
    probes = [
        r.doc_id
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") % _PROBE_MOD == 0)
        .collect()
    ]
    assert probes
    for p in probes:
        assert p in out, "probe doc must match itself"
        leaked = p + _PROBE_OFFSET
        assert leaked in out, "planted leaked copy must be flagged"
        # the padded copy carries every probe 8-gram of the original
        assert out[leaked] >= out[p]


def test_contamination_ignores_clean_docs_and_counts_distinct_hits(spark):
    probe = spark.createDataFrame(
        [(0, _words("bench", 10))], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (0, _words("bench", 10)),  # the benchmark item itself
            (1, "pad " + _words("bench", 10)),  # leaked, all 3 probe grams
            (2, _words("clean", 12)),  # no overlap
            # repeats ONE probe gram 3 times - distinct hit count is 1
            (3, " ".join([_words("bench", 8)] * 3)),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_probe_hits for r in contamination_hits(corpus, probe).collect()}
    assert out == {0: 3, 1: 3, 3: 1}


def test_contamination_probe_join_is_broadcast(spark):
    """The probe side must broadcast: a shuffled (sort-merge) probe join
    would re-shuffle the full corpus gram stream at 100 TB."""
    plan = q_contamination(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_finds_planted_batch_dups_of_index(spark):
    from crawler_spark.queries import _LSH_OFFSET, q_dedup_incremental

    out = {r.new_doc_id: r for r in q_dedup_incremental(spark, SF).collect()}
    planted = [d for d in out if d >= _LSH_OFFSET]
    assert planted, "no planted batch near-dup recovered against the index"
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_planted = docs.filter("doc_id % 10 = 0").count()
    assert len(planted) >= 0.9 * n_planted
    for dup in planted:
        r = out[dup]
        # origin doc is in the index (doc_id % 10 == 0 implies % 5 != 4);
        # keep-min may resolve to an even earlier exact dup of the origin
        assert r.keep_doc_id <= dup - _LSH_OFFSET
        assert r.jac_milli >= 500


def test_incremental_dedup_ignores_intra_batch_dups(spark):
    """Two identical batch docs with no index counterpart must NOT be
    reported — the operator answers 'is this new doc already in the
    corpus?', not 'does the batch self-duplicate?'."""
    from crawler_spark.queries import incremental_dedup

    index = spark.createDataFrame(
        [(0, _words("idx", 30))], "doc_id long, text string"
    )
    twin = _words("batchtwin", 30)
    batch = spark.createDataFrame(
        [(100, twin), (101, twin), (102, _words("idx", 30))],
        "doc_id long, text string",
    )
    out = {r.new_doc_id: r for r in incremental_dedup(index, batch).collect()}
    assert 100 not in out and 101 not in out
    assert out[102].keep_doc_id == 0 and out[102].jac_milli == 1000


def test_incremental_dedup_boilerplate_index_collapses_to_one_rep(spark):
    """Hot-bucket guard: 10^3 identical index docs collapse to one
    representative before the band join, so a batch near-dup of that
    text costs one candidate pair, not 10^3 — and still resolves to the
    group's min doc_id."""
    from crawler_spark.queries import incremental_dedup

    boiler = _words("boilerplate", 40)
    index = spark.createDataFrame(
        [(i, boiler) for i in range(1000)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(5000, boiler + " zz"), (5001, _words("fresh", 40))],
        "doc_id long, text string",
    )
    out = {r.new_doc_id: r for r in incremental_dedup(index, batch).collect()}
    assert out[5000].keep_doc_id == 0 and out[5000].jac_milli >= 500
    assert 5001 not in out


def test_quality_filter_cascade_every_branch(spark):
    """One constructed doc per cascade outcome, including the two
    branches the synthetic corpus never triggers (non_english,
    repetitive), and first-failing-rule precedence."""
    from crawler_spark.pipeline import quality_filter

    accept = "the data is on a table and the rows are in a file for the scan with " + _words("v", 10)
    rows = [
        (0, accept),
        (1, "the a is"),  # < 20 tokens
        (2, "der die das " + " ".join(f"w{i}" for i in range(20))),  # de markers win
        (3, _words("u", 25)),  # no stopwords at all
        (4, "the a " + " ".join(["dup dup2"] * 12)),  # low distinct fraction
        # diverse-enough tokens (24/40 distinct = 600 milli) but one
        # dominant bigram: 'zz yy' is 9 of 39 bigrams = 230 milli > 200
        (5, "the a is on of " + _words("v", 17) + " " + " ".join(["zz yy"] * 9)),
        # too_short wins over non_english (first failing rule names it)
        (6, "der die das"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.reject_reason for r in quality_filter(docs).collect()}
    assert out[0] == "accept"
    assert out[1] == "too_short"
    assert out[2] == "non_english"
    assert out[3] == "low_stopword"
    assert out[4] == "low_diversity"
    assert out[5] == "repetitive"
    assert out[6] == "too_short"


def test_quality_filter_plan_is_shuffle_free(spark):
    """The cascade is a per-document decision, so its plan must be
    map-only: one Arrow-batched stat pass and a when-cascade — no
    Exchange, no Generate.
    A shuffle here would move the whole corpus for a value computable
    inside the scan partition."""
    from crawler_spark.plans.inspect import formatted_plan
    from crawler_spark.pipeline import quality_filter
    from crawler_spark.queries import load

    plan = formatted_plan(quality_filter(load(spark, SF, "documents")))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan


def test_dedup_blocks_plan_has_two_bounded_key_exchanges(spark):
    """block_dedup needs exactly two hash exchanges — one on the block
    text (the dedup key) for the keep-first window, one on doc_id for
    reassembly. Any additional exchange means the explode output is
    shuffled more than the operator requires."""
    import re

    from crawler_spark.plans.inspect import formatted_plan
    from crawler_spark.queries import q_dedup_blocks

    plan = formatted_plan(q_dedup_blocks(spark, SF))
    # the formatted explain lists each node twice (tree + detail
    # section) — count the numbered detail entries
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
