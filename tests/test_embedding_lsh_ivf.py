"""Embedding near-dup via LSH buckets, IVF centroid assignment, IVF-PQ
search and SemDeDup — the bucketed-not-all-pairs similarity shapes over
the embeddings table."""

from pyspark.sql import functions as F

from crawler_spark.queries import (
    _EMB_LSH_COS_MIN,
    _IVF_NLIST,
    _LSH_OFFSET,
    load,
    q_dedup_embedding_lsh,
)

SF = "/root/testdata/sf0.001"


def test_embedding_lsh_recovers_all_planted_dups(spark):
    out = {r.dup_vec_id: r for r in q_dedup_embedding_lsh(spark, SF).collect()}
    n_vecs = load(spark, SF, "embeddings").count()
    planted_ids = list(range(0, n_vecs, 10))
    # identical vectors share every hyperplane sign => guaranteed same
    # bucket => 100% recall on planted dups (unlike minhash, no luck term)
    for v in planted_ids:
        r = out.get(v + _LSH_OFFSET)
        assert r is not None, f"planted dup of vec {v} not recovered"
        assert r.keep_vec_id <= v
        assert r.cos_milli >= _EMB_LSH_COS_MIN
    # and the verify gate keeps cosine honest for every emitted row
    assert all(r.cos_milli >= _EMB_LSH_COS_MIN for r in out.values())


def test_ivf_assignment_covers_corpus_once(spark):
    # the REFERENCE formulation: broadcast-join every vector against all
    # centroids, row_number() desc(cos) asc(cent_id) — the shape
    # _ivf_assign used before the map-only fold rewrite. The production
    # fold must agree row-for-row (same quantization, same double math,
    # same NULLS-LAST + lowest-cent_id tie contract).
    from pyspark.sql import Window

    from crawler_spark.queries import _cos_milli_col, _ivf_assign

    emb = load(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = (
        emb.orderBy("vec_id")
        .limit(_IVF_NLIST)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cent_cos"), F.asc("cent_id"))
    assigned = (
        emb.join(F.broadcast(cents))
        .withColumn("cent_cos", _cos_milli_col("embedding", "ce"))
        .withColumn("ark", F.row_number().over(w))
        .filter("ark = 1")
    )
    n = emb.count()
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    # a centroid is its own nearest centroid (cos 1000 to itself)
    own = assigned.filter(F.col("vec_id") < _IVF_NLIST)
    assert all(r.cent_id == r.vec_id for r in own.collect())
    # the map-only fold agrees with the window reference on every vector
    ref = {r.vec_id: r.cent_id for r in assigned.collect()}
    fold = {r.vec_id: r.cent_id for r in _ivf_assign(emb, cents).collect()}
    assert fold == ref


def test_ivf_assign_plan_is_shuffle_free_on_the_corpus_side(spark):
    """The corpus side of the assignment must reach the output through a
    projection only — no Window (the pre-round-4 row_number shape that
    shuffled n x nlist rows) and no exchange of corpus rows; the only
    exchange allowed is the tiny single-row centroid-array aggregate."""
    from crawler_spark.plans.inspect import formatted_plan
    from crawler_spark.queries import _ivf_assign, release_query_barriers

    emb = load(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = (
        emb.orderBy("vec_id")
        .limit(_IVF_NLIST)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    )
    plan = formatted_plan(_ivf_assign(emb, cents))
    release_query_barriers()
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    # zero SHUFFLE exchanges anywhere: every Exchange in the plan is a
    # BroadcastExchange (the packed centroid row); the corpus scan feeds
    # the join and the arg-max projection directly
    assert plan.count("Exchange") == plan.count("BroadcastExchange"), plan


def test_ivf_assign_zero_norm_contract(spark):
    """Failed-encoder rows (zero-norm vectors/centroids, present in any
    10^10-vector corpus) must assign exactly as the window reference:
    NULL cosines lose to any real cosine, and an all-NULL row keeps the
    lowest cent_id."""
    from pyspark.sql import Window

    from crawler_spark.queries import _cos_milli_col, _ivf_assign

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]), (3, [0.7, 0.7])],
        "vec_id long, embedding array<float>",
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cent_cos"), F.asc("cent_id"))

    def ref_assign(cents):
        return {
            r.vec_id: r.cent_id
            for r in (
                emb.join(F.broadcast(cents))
                .withColumn("cent_cos", _cos_milli_col("embedding", "ce"))
                .withColumn("ark", F.row_number().over(w))
                .filter("ark = 1")
            ).collect()
        }

    mixed = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, [1.0, 0.1]), (12, [0.1, 1.0])],
        "cent_id long, ce array<float>",
    )
    assert {r.vec_id: r.cent_id for r in _ivf_assign(emb, mixed).collect()} == ref_assign(mixed)
    all_zero = spark.createDataFrame(
        [(20, [0.0, 0.0]), (21, [0.0, 0.0])], "cent_id long, ce array<float>"
    )
    assert {r.vec_id: r.cent_id for r in _ivf_assign(emb, all_zero).collect()} == ref_assign(all_zero)


def test_lsh_bucket_join_plan_is_broadcast_free_shuffle_on_bucket(spark):
    # the candidate join must hash-partition on the bucket key, never
    # build an all-pairs cartesian
    plan = q_dedup_embedding_lsh(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_embedding_lsh_plan_joins_on_bucket_key(spark):
    """Candidate generation must be an EQUI hash join keyed on the bucket
    (the blocking shape that scales) — never a cartesian/nested-loop
    over the corpus. At test scale Catalyst picks BroadcastHashJoin for
    the tiny side (correct size-based choice); past the broadcast
    threshold the same plan becomes a shuffle join on the same key."""
    from crawler_spark.plans.inspect import formatted_plan

    plan = formatted_plan(q_dedup_embedding_lsh(spark, SF))
    assert "HashJoin" in plan  # Broadcast- or ShuffledHashJoin/SortMerge
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _cos_milli_py(va, vb):
    """Pure-python replay of _cos_milli_col's fixed-point cosine (same
    IEEE double ops, so results match Spark/DuckDB bit-for-bit)."""
    import math

    fa = [math.floor(float(x) * 1000) for x in va]
    fb = [math.floor(float(x) * 1000) for x in vb]
    dot = sum(int(a) * int(b) for a, b in zip(fa, fb))
    na = sum(int(a) * int(a) for a in fa)
    nb = sum(int(b) * int(b) for b in fb)
    if na == 0 or nb == 0:
        return None
    return math.floor(1000.0 * dot / math.sqrt(float(na) * float(nb)))


def test_semdedup_recovers_planted_dups_within_clusters(spark):
    """SemDeDup: identical planted vectors share their original's
    max-cosine centroid, so every planted dup must be recovered, its
    keeper must sit in the SAME cluster, and no reported pair may
    cross clusters (the blocking contract) — clusters replayed in
    pure python from the deterministic coarse quantizer."""
    from crawler_spark.queries import _SEMDEDUP_COS_MIN, q_semdedup

    rows = q_semdedup(spark, SF).collect()
    vecs = {
        r.vec_id: list(r.embedding)
        for r in load(spark, SF, "embeddings").collect()
    }
    n_vecs = len(vecs)
    corpus = dict(vecs)
    for v in range(0, n_vecs, 10):
        corpus[v + _LSH_OFFSET] = vecs[v]
    from crawler_spark.queries import _SEMDEDUP_NLIST

    cents = {cid: vecs[cid] for cid in sorted(vecs)[:_SEMDEDUP_NLIST]}

    def cluster_of(vid):
        scored = [
            (c, _cos_milli_py(corpus[vid], ce)) for c, ce in sorted(cents.items())
        ]
        # max cosine, ties (and all-NULL zero vectors) -> min cent_id
        best = max(
            scored, key=lambda t: (t[1] if t[1] is not None else -(1 << 60), -t[0])
        )
        return best[0]

    out = {r.dup_vec_id: r for r in rows}
    for v in range(0, n_vecs, 10):
        r = out.get(v + _LSH_OFFSET)
        assert r is not None, f"planted dup of vec {v} not recovered"
        assert r.keep_vec_id <= v
        assert r.cos_milli >= _SEMDEDUP_COS_MIN
    # blocking contract: the reported cluster is the dup's replayed
    # cluster AND the keeper's — no pair crosses clusters
    for r in rows:
        assert 0 <= r.cluster_id < _SEMDEDUP_NLIST
        assert r.keep_vec_id < r.dup_vec_id
        assert r.cluster_id == cluster_of(r.dup_vec_id), r
        assert r.cluster_id == cluster_of(r.keep_vec_id), r


def test_semdedup_assignment_broadcasts_centroids(spark):
    """Centroid assignment must be a broadcast join (map-side at
    10^10 vectors), never a shuffled join of corpus x centroids."""
    import re as _re

    from crawler_spark.plans.inspect import formatted_plan
    from crawler_spark.queries import q_semdedup, release_query_barriers

    plan = formatted_plan(q_semdedup(spark, SF))
    release_query_barriers()
    assert "BroadcastExchange" in plan, plan
    # the centroid join specifically: corpus side joins a broadcast
    assert _re.search(r"BroadcastNestedLoopJoin|BroadcastHashJoin", plan), plan


# ---------------------------------------------------------------------------
# IVF-PQ
# ---------------------------------------------------------------------------


def test_ivfpq_probes_one_list_and_ranks_by_adc(spark):
    """Structural invariants of the PQ search: exactly 5 results, all
    from the QUERY'S coarse list (nprobe=1 — a probe must never touch
    another inverted list), ranked by ADC score with the deterministic
    (adc_dot DESC, vec_id ASC) tie-break, and the query vector itself
    (vec_id 0, whose codes reconstruct it best) at rank 1."""
    from crawler_spark.queries import q_ann_ivfpq_search

    rows = q_ann_ivfpq_search(spark, SF).collect()
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == 5
    assert len({r["cent_id"] for r in rows}) == 1
    scores = [(r["adc_dot"], -r["vec_id"]) for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert rows[0]["vec_id"] == 0


def test_ivfpq_adc_approximates_exact_dot(spark):
    """ADC correctness anchor: a vector that IS a codebook entry
    (vec_id < _PQ_K) quantizes to itself in every subspace, so its ADC
    score must EQUAL the exact fixed-point dot with the query — the
    lookup table is the same arithmetic, just factored per subspace.
    Non-codebook candidates carry genuine quantization error; bound it
    only loosely (within the 10^6 self-dot scale) as a sanity rail."""
    from crawler_spark.queries import _PQ_K, q_ann_ivfpq_search

    rows = q_ann_ivfpq_search(spark, SF).collect()
    emb = {r["vec_id"]: r["embedding"] for r in
           spark.read.parquet(f"{SF}/embeddings.parquet").collect()}

    def milli_dot(a, b):
        import math
        return sum(
            math.floor(x * 1000) * math.floor(y * 1000) for x, y in zip(a, b)
        )

    q = emb[0]
    checked_exact = 0
    for r in rows:
        exact = milli_dot(emb[r["vec_id"]], q)
        if r["vec_id"] < _PQ_K:
            assert r["adc_dot"] == exact, (r, exact)
            checked_exact += 1
        else:
            assert abs(r["adc_dot"] - exact) < 1_000_000, (r, exact)
    assert checked_exact >= 1  # vec 0 (the query) is always a codebook entry


def test_zero_norm_vectors_yield_null_cosine_not_a_crash(spark):
    """Regression (degenerate-corpus sweep): a zero-norm embedding —
    failed encoder output, padding row, present in any 10^10-vector
    corpus — has no defined cosine. Under Spark 4's ANSI default the
    old unguarded fixed-point division raised DIVIDE_BY_ZERO; the guard
    yields NULL, threshold filters drop it, and DESC orderings put it
    last on both engines."""
    from crawler_spark.queries import _cos_milli_col

    dim = 8
    rows = [
        (1, [1.0] * dim),
        (2, [0.0] * dim),          # zero norm
        (3, [1e-9] * dim),         # rounds to zero in milli fixed-point
        (4, [1.0] * dim),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    scored = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cos_milli_col("ea", "eb").alias("cos_milli"))
    )
    got = {(r["id_a"], r["id_b"]): r["cos_milli"] for r in scored.collect()}
    assert got[(1, 4)] == 1000
    for pair, cos in got.items():
        if 2 in pair or 3 in pair:
            assert cos is None, (pair, cos)
    # threshold filters drop the undefined pairs, keep the identical one
    kept = scored.filter(F.col("cos_milli") >= 900)
    assert [(r["id_a"], r["id_b"]) for r in kept.collect()] == [(1, 4)]


def test_semdedup_nlist_scales_with_corpus():
    from crawler_spark.queries import (
        _SEMDEDUP_NLIST,
        _SEMDEDUP_TARGET_CLUSTER,
        _semdedup_nlist,
    )

    assert _semdedup_nlist(500) == _SEMDEDUP_NLIST          # fixture floor
    assert _semdedup_nlist(64_000) == _SEMDEDUP_NLIST       # still at floor
    assert _semdedup_nlist(10**6) == 10**6 // _SEMDEDUP_TARGET_CLUSTER
    # the paper regime: expected cluster size stays ~target as N grows 100x
    assert _semdedup_nlist(10**8) == 100 * _semdedup_nlist(10**6)


def test_semdedup_degenerate_cluster_cap(spark):
    """10^3 NEAR-identical (not exact — rep collapse must not eat them)
    vectors in one cluster: the anchor cap bounds candidate pairs to
    anchors*n instead of n^2/2, and the output is still EXACT for this
    single-blob degenerate case (keep-min = cluster min for every other
    member) — the planted test VERDICT r3 item #4 asked for."""
    from crawler_spark.queries import (
        _semdedup_assign,
        _semdedup_candidate_pairs,
        semdedup_cap_report,
        semdedup_dups,
    )

    n = 1000
    rows = [(i, [1.0, 1e-4 * i, 0.0, 0.0]) for i in range(n)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "cent_id long, ce array<float>"
    )

    # pair-count bound: capped = anchors*(n-ish), uncapped = n*(n-1)/2
    _, _, assigned = _semdedup_assign(corpus, cents)
    capped_pairs = _semdedup_candidate_pairs(assigned, cluster_cap=100, anchors=8).count()
    assert capped_pairs <= 8 * n
    uncapped_pairs = _semdedup_candidate_pairs(assigned, cluster_cap=10**9, anchors=8).count()
    assert uncapped_pairs == n * (n - 1) // 2

    # exactness in the degenerate blob: every non-min vec is a dup kept by 0
    out = {r.dup_vec_id: r for r in semdedup_dups(corpus, cents, cluster_cap=100).collect()}
    assert set(out) == set(range(1, n))
    assert all(r.keep_vec_id == 0 for r in out.values())
    assert all(r.cos_milli >= 900 for r in out.values())

    # and the report logs the capped cluster
    rep = semdedup_cap_report(corpus, cents, cluster_cap=100).collect()
    assert len(rep) == 1 and rep[0].capped and rep[0].size == n
