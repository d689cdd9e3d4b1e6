"""MinHash-LSH near-dup dedup end-to-end (the 100 TB blocking shape):
band buckets find planted near-dup pairs that consecutive-id (linear)
blocking cannot see, and the exact-Jaccard verify gates them."""

from crawler_spark.queries import _LSH_JAC_MIN, _LSH_OFFSET, q_dedup_minhash_lsh

SF = "/root/testdata/sf0.001"


def test_lsh_catches_planted_nondups_linear_blocking_misses(spark):
    out = {r.dup_doc_id: r for r in q_dedup_minhash_lsh(spark, SF).collect()}

    # planted mutations live at doc_id + _LSH_OFFSET for every 10th doc —
    # the pair (d, d + 1_000_000) is never consecutive, so blocking on
    # consecutive doc ids cannot emit it by construction
    planted = [d for d in out if d >= _LSH_OFFSET]
    assert planted, "no planted near-dup recovered"
    # every recovered planted dup resolves to a keeper no later than its
    # origin doc (keep-min may pick an even earlier ORGANIC duplicate of
    # the origin — that is the dedup semantics working, not a miss) and
    # passed the exact-Jaccard verify
    for dup in planted:
        r = out[dup]
        assert r.keep_doc_id <= dup - _LSH_OFFSET
        assert r.jac_milli >= _LSH_JAC_MIN

    # recall over the planted set: one appended token rarely perturbs any
    # of the 4 minhashes, so nearly all planted pairs must band-collide
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_planted = docs.filter("doc_id % 10 = 0").count()
    assert len(planted) >= 0.9 * n_planted


def test_degenerate_bucket_stays_linear_and_finds_dups(spark):
    """Hot-bucket guard: 10^3 IDENTICAL docs (one degenerate band bucket,
    the classic boilerplate-corpus LSH skew failure) must NOT produce a
    quadratic in-bucket pair count — exact-duplicate texts collapse to
    one representative before the band self-join, so the candidate-pair
    stage sees ~0 pairs instead of ~N^2/2 — while the member-level output
    still reports every copy as a dup of the smallest doc_id."""
    from pyspark.sql import functions as F

    from crawler_spark.queries import _lsh_expand_groups, _minhash_rep_pairs

    n_clones = 1000
    boiler = "cookie policy terms of service all rights reserved contact us"
    rows = [(i, boiler) for i in range(n_clones)]
    # a few distinct docs so the pipeline has non-degenerate work too
    rows += [(n_clones + j, f"unique document number {j} with its own words") for j in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    members, groups, sizes, scored = _minhash_rep_pairs(docs)
    # candidate generation collapsed the clones: one rep for all 10^3
    n_rep_pairs = scored.count()
    assert n_rep_pairs < 50, f"quadratic blowup: {n_rep_pairs} rep pairs"
    assert groups.filter(F.col("grp_n") == n_clones).count() == 1

    # end-to-end through the same guard path q_dedup_minhash_lsh uses
    self_edges = (
        groups.filter(F.col("grp_n") >= 2)
        .join(sizes, groups.rep_id == sizes.doc_id, "left_semi")
        .select(
            "rep_id",
            F.col("rep_id").alias("partner_min"),
            F.lit(1000).cast("long").alias("score"),
        )
    )
    out = {r.dup_id: r for r in _lsh_expand_groups(members, self_edges).collect()}
    assert set(out) == set(range(1, n_clones))  # every clone but the keeper
    assert all(r.keep_id == 0 and r.score == 1000 for r in out.values())
