"""Property tests for the search-index / corpus-curation queries
(queries_search.py).

tools/selfcheck.py hash-checks every query against its DuckDB oracle;
these pin the SEMANTIC invariants the hash can't express — BM25 replay
against a pure-Python scorer, planted near-mirror recall, the per-host
boilerplate threshold — plus the plan shapes the 100 TB design requires (broadcast model weights,
query-partitioned top-k, no corpus self-joins).
"""

import hashlib
import re
from collections import Counter, defaultdict

import duckdb

from crawler_spark.plans.inspect import formatted_plan
from crawler_spark.queries_search import (
    _BM25_K,
    _BM25_QTERMS,
    _BM25_QUERIES,
    _BP_BLOCK,
    _BP_DEN,
    _BP_NUM,
    _HSIM_MIRROR_FP,
    _HSIM_SLOTS,
    _QC_BUCKETS,
    _QC_W_RANGE,
    q_bm25_topk,
    q_boilerplate_strip,
    q_host_similarity,
    q_quality_classifier,
)

SF = "/root/testdata/sf0.001"


def _docs():
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text, source FROM '{SF}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def _md5_int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def _bm25_expected(docs):
    """Pure-Python BM25 replay over [(doc_id, text), ...] — the
    integer fixed-point twin of q_bm25_topk."""
    n = len(docs)
    tf = {}
    dl = {}
    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        dl[doc_id] = len(toks)
        tf[doc_id] = Counter(toks)
    avgdl = max(1, sum(dl.values()) // n)
    df = Counter()
    for c in tf.values():
        df.update(c.keys())
    ranked_terms = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
    qterms = {}
    for i, (term, d) in enumerate(ranked_terms[: _BM25_QUERIES * _BM25_QTERMS]):
        qterms[term] = (i // _BM25_QTERMS, (1_000_000 * (n - d + 1)) // (d + 1))
    hits = defaultdict(lambda: [0, 0])  # (q, doc) -> [n_terms, score]
    for doc_id, c in tf.items():
        for term, (q, idf_fp) in qterms.items():
            t = c.get(term)
            if not t:
                continue
            norm_fp = (t * 2200000) // (t * 1000 + 300 + (900 * dl[doc_id]) // avgdl)
            hits[(q, doc_id)][0] += 1
            hits[(q, doc_id)][1] += (idf_fp * norm_fp) // 1000
    expect = {}
    byq = defaultdict(list)
    for (q, d), (nh, sc) in hits.items():
        byq[q].append((d, nh, sc))
    for q, rows in byq.items():
        rows.sort(key=lambda r: (-r[2], r[0]))
        for rk, (d, nh, sc) in enumerate(rows[:_BM25_K], 1):
            expect[(q, d)] = (nh, sc, rk)
    return expect


def test_bm25_matches_pure_python_scorer(spark):
    expect = _bm25_expected([(d, t) for d, t, _ in _docs()])
    got = {
        (r["query_id"], r["doc_id"]): (r["n_hit_terms"], r["score"], r["rk"])
        for r in q_bm25_topk(spark, SF).collect()
    }
    assert got == expect


def test_bm25_fuzz_random_corpora_match_replay(spark):
    """Differential fuzz on adversarial tiny corpora (ties everywhere:
    a 4-word vocabulary forces equal df/score collisions, empty and
    single-token docs stress the length norm) — Spark must equal the
    pure-Python replay on every draw."""
    from hypothesis import given, settings, strategies as st
    from crawler_spark import queries_search as mod

    vocab = ["alpha", "beta", "gamma", "delta"]
    corpus_st = st.lists(
        st.lists(st.sampled_from(vocab), min_size=0, max_size=8).map(" ".join),
        min_size=2,
        max_size=8,
    )

    @settings(max_examples=6, deadline=None)
    @given(corpus_st)
    def run(texts):
        docs = list(enumerate(texts))
        if not any(t for _, t in docs):
            return  # all-empty corpus: no postings, no queries
        frame = spark.createDataFrame(docs, "doc_id long, text string")
        orig = mod.load
        mod.load = lambda s, sf, t: frame
        try:
            got = {
                (r["query_id"], r["doc_id"]): (r["n_hit_terms"], r["score"], r["rk"])
                for r in mod.q_bm25_topk(spark, SF).collect()
            }
        finally:
            mod.load = orig
        assert got == _bm25_expected(docs)

    run()


def test_bm25_plan_broadcasts_queries_and_partitions_topk_by_query(spark):
    plan = formatted_plan(q_bm25_topk(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    # the top-k window must be partitioned by query_id, never global
    assert re.search(r"Window.*partition.*query_id|Window.*\[query_id", plan, re.S), plan


# ---------------------------------------------------------------------------
# host near-mirror similarity
# ---------------------------------------------------------------------------


def test_host_similarity_recalls_every_planted_mirror_exactly(spark):
    docs = _docs()
    rows = q_host_similarity(spark, SF).collect()
    hosts = {s for _, _, s in docs}
    planted = {(r["host_a"], r["host_b"]) for r in rows if r["host_b"] == r["host_a"] + "_m"}
    assert planted == {(h, h + "_m") for h in hosts}
    # exact Jaccard replay for every planted pair
    sets_a = defaultdict(set)
    sets_b = defaultdict(set)
    for doc_id, text, source in docs:
        fp = hashlib.md5(text.encode()).hexdigest()
        sets_a[source].add(fp)
        if (doc_id // 20) % 5 != 0:
            sets_b[source + "_m"].add(fp)
    for r in rows:
        if (r["host_a"], r["host_b"]) not in planted:
            assert not r["near_mirror"], r
            continue
        a = sets_a[r["host_a"]]
        b = sets_b[r["host_b"]]
        inter = len(a & b)
        union = len(a | b)
        assert r["inter"] == inter
        assert r["union_ct"] == union
        assert r["jaccard_fp"] == (1000 * inter) // union
        assert r["near_mirror"] == (r["jaccard_fp"] >= _HSIM_MIRROR_FP)
        assert 0 <= r["est_fp"] <= 1000
        assert 1 <= r["n_common_bands"] <= _HSIM_SLOTS


def test_host_similarity_candidates_stay_far_below_all_pairs(spark):
    rows = q_host_similarity(spark, SF).collect()
    n_hosts = len({r["host_a"] for r in rows} | {r["host_b"] for r in rows})
    # band blocking, not host x host: candidates ~ planted pairs, never
    # quadratic in the host count
    assert len(rows) <= 3 * n_hosts, (len(rows), n_hosts)


# ---------------------------------------------------------------------------
# quality classifier
# ---------------------------------------------------------------------------


def test_quality_classifier_matches_pure_python_inference(spark):
    weights = {
        b: _md5_int(f"w:{b}") % _QC_W_RANGE - (_QC_W_RANGE - 1) // 2
        for b in range(_QC_BUCKETS)
    }
    got = {r["doc_id"]: r for r in q_quality_classifier(spark, SF).collect()}
    docs = _docs()
    assert len(got) == len(docs)
    for doc_id, text, _ in docs:
        toks = [t for t in text.split(" ") if t]
        s = sum(weights[_md5_int(t) % _QC_BUCKETS] for t in toks)
        r = got[doc_id]
        assert r["n_toks"] == len(toks)
        assert r["sum_w"] == s
        # floor-division mean (offset rewrite == mathematical floor)
        import math

        assert r["score_fp"] == math.floor(1000 * s / len(toks))
        assert r["label"] == ("keep" if r["score_fp"] >= 0 else "drop")


def test_quality_classifier_gives_empty_docs_a_drop_verdict(spark):
    """A zero-token document must still appear in the output, labeled
    drop — a gate that emits no decision lets the doc through any
    label-based keep filter."""
    from crawler_spark import queries_search as mod

    frame = spark.createDataFrame(
        [(0, "good words here"), (1, ""), (2, " ")],
        "doc_id long, text string",
    )
    orig = mod.load
    mod.load = lambda s, sf, t: frame
    try:
        rows = {r["doc_id"]: r for r in mod.q_quality_classifier(spark, SF).collect()}
    finally:
        mod.load = orig
    assert set(rows) == {0, 1, 2}
    for d in (1, 2):
        assert rows[d]["n_toks"] == 0
        assert rows[d]["score_fp"] == 0
        assert rows[d]["label"] == "drop"


def test_quality_classifier_weights_are_broadcast(spark):
    plan = formatted_plan(q_quality_classifier(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


# ---------------------------------------------------------------------------
# boilerplate stripping
# ---------------------------------------------------------------------------


def test_boilerplate_strip_removes_the_planted_nav_block_everywhere(spark):
    docs = _docs()
    rows = {r["doc_id"]: r for r in q_boilerplate_strip(spark, SF).collect()}
    assert len(rows) == len(docs)
    # pure-Python replay of the per-host threshold
    blocks_by_host = defaultdict(Counter)
    doc_blocks = {}
    host_docs = Counter()
    for doc_id, text, source in docs:
        toks = ("nav home about contact " + source + " " + text).split(" ")
        blks = [
            " ".join(toks[i * _BP_BLOCK : (i + 1) * _BP_BLOCK])
            for i in range((len(toks) + _BP_BLOCK - 1) // _BP_BLOCK)
        ]
        doc_blocks[doc_id] = (source, blks)
        host_docs[source] += 1
        for b in set(blks):
            blocks_by_host[source][b] += 1
    for doc_id, (source, blks) in doc_blocks.items():
        boiler = {
            b
            for b in blks
            if blocks_by_host[source][b] * _BP_DEN >= host_docs[source] * _BP_NUM
        }
        kept = [b for b in blks if b not in boiler]
        r = rows[doc_id]
        assert r["n_blocks"] == len(blks)
        assert r["n_boiler"] == sum(1 for b in blks if b in boiler)
        assert r["n_kept_toks"] == sum(len(b.split(" ")) for b in kept)
        assert r["kept_fp"] == hashlib.md5(" ".join(kept).encode()).hexdigest()
        # the planted nav block is chrome on every host
        assert r["n_boiler"] >= 1, r
        # unique content blocks always survive (df == 1 < 60% once a host
        # has >= 2 docs)
        if host_docs[source] >= 2:
            assert r["n_kept_toks"] >= 1


def test_boilerplate_threshold_is_per_host_not_global(spark):
    """A block recurring on every page of host A but on one page of
    host B must be stripped from A and kept on B."""
    from crawler_spark.queries_search import strip_boilerplate

    corpus = spark.createDataFrame(
        [(i, "hostA", "promo banner sale now on " + f"unique{i} filler words here pad") for i in range(4)]
        + [(10, "hostB", "promo banner sale now on " + "solo content entirely different pad")]
        + [(11, "hostB", "other text nothing shared here " + "second doc of host b pad")],
        "doc_id long, host string, text string",
    )
    rows = {r["doc_id"]: r for r in strip_boilerplate(corpus).collect()}
    # hostA: 4/4 docs share the promo block -> stripped everywhere
    for i in range(4):
        assert rows[i]["n_boiler"] == 1, rows[i]
        assert rows[i]["n_kept_toks"] == 5, rows[i]  # the unique tail block
    # hostB: promo block present on 1 of 2 docs (50% < 60%) -> kept there
    assert rows[10]["n_boiler"] == 0, rows[10]
    assert rows[11]["n_boiler"] == 0, rows[11]


def test_boilerplate_small_host_guard_never_strips_single_page_hosts(spark):
    """The 60% rule degenerates on tiny hosts (df == n_docs == 1 for
    every block) — a 1-page host must keep 100% of its content."""
    from crawler_spark.queries_search import strip_boilerplate

    corpus = spark.createDataFrame(
        [
            (0, "solo", "every block on a one page host would be boiler without the guard"),
            (1, "duo", "two page hosts also lack any frequency signal blocks"),
            (2, "duo", "two page hosts also lack any frequency signal blocks"),
        ],
        "doc_id long, host string, text string",
    )
    rows = {r["doc_id"]: r for r in strip_boilerplate(corpus).collect()}
    for d in rows.values():
        assert d["n_boiler"] == 0, d
        assert d["n_kept_toks"] > 0, d


def test_phash_neardup_finds_exactly_the_planted_clones(spark):
    """Every planted '#v2' clone (2 bits flipped) must pair with its
    original at Hamming 2; nothing else in the synthetic image set sits
    within the threshold, so the candidate/verify pipeline must return
    exactly the planted pairs — and each reported pair must genuinely
    share a band (replayed from the pure feature function)."""
    import hashlib as hl

    from crawler_spark.operators.multimodal import FakeDecodeBackend, image_features
    from crawler_spark.queries import _image_refs
    from crawler_spark.queries_search import (
        _PHN_CLONE_XOR,
        _PHN_MAX_HAM,
        q_phash_neardup,
    )

    rows = q_phash_neardup(spark, SF).collect()
    backend = FakeDecodeBackend()
    ph = {}
    for ref in _image_refs():
        payload = hl.md5(ref.encode()).hexdigest().encode("utf-8")
        ph[ref] = image_features(ref, payload, 8, backend)["phash"]
    planted = {
        (ref, ref + "#v2")
        for ref in ph
        if int(ref[-5]) % 2 == 0
    }
    got = {(r["media_a"], r["media_b"]) for r in rows}
    assert got == planted, (got - planted, planted - got)
    for r in rows:
        a = ph[r["media_a"]]
        b = a ^ _PHN_CLONE_XOR
        assert r["hamming"] == bin(a ^ b).count("1")
        assert r["hamming"] <= _PHN_MAX_HAM
        shared = sum(
            1 for k in range(4) if (a >> (16 * k)) & 65535 == (b >> (16 * k)) & 65535
        )
        assert r["n_shared_bands"] == shared
        assert shared >= 1


def test_video_neardup_flags_exactly_the_planted_cuts(spark):
    """Every planted '#cut' clone (first sampled frame dropped) is a
    subset of its original's frame fingerprints -> containment 1000;
    cross-video fingerprint collisions may produce candidates but must
    die at the containment verify."""
    from crawler_spark.queries_search import _VND_MIN_CONT, q_video_neardup

    rows = q_video_neardup(spark, SF).collect()
    flagged = {(r["media_a"], r["media_b"]) for r in rows if r["near_dup"]}
    planted = set()
    for r in rows:
        if r["media_b"] == r["media_a"] + "#cut":
            planted.add((r["media_a"], r["media_b"]))
            assert r["near_dup"], r
            # subset containment: every clone sig is in the original
            assert r["n_shared"] == min(r["sz_a"], r["sz_b"]), r
            assert r["containment_fp"] == 1000, r
    assert planted, "no planted pairs surfaced at all"
    assert flagged == planted, flagged ^ planted
    for r in rows:
        assert r["near_dup"] == (r["containment_fp"] >= _VND_MIN_CONT)


def test_curation_pipeline_dispositions_match_replay(spark):
    """First-failing disposition cascade replayed in pure Python over
    the fixture: boiler_only -> too_short -> duplicate (keep-min doc_id
    on the cleaned fingerprint among quality-passing docs) -> kept."""
    from crawler_spark.queries_search import _CUR_MIN_TOKS, q_curation_pipeline

    docs = _docs()
    blocks_by_host = defaultdict(Counter)
    doc_blocks = {}
    host_docs = Counter()
    for doc_id, text, source in docs:
        toks = ("nav home about contact " + source + " " + text).split(" ")
        blks = [
            " ".join(toks[i * _BP_BLOCK : (i + 1) * _BP_BLOCK])
            for i in range((len(toks) + _BP_BLOCK - 1) // _BP_BLOCK)
        ]
        doc_blocks[doc_id] = (source, blks)
        host_docs[source] += 1
        for b in set(blks):
            blocks_by_host[source][b] += 1
    cleaned = {}
    for doc_id, (source, blks) in doc_blocks.items():
        boiler = {
            b
            for b in blks
            if host_docs[source] >= 3
            and blocks_by_host[source][b] * _BP_DEN >= host_docs[source] * _BP_NUM
        }
        kept = [b for b in blks if b not in boiler]
        cleaned[doc_id] = (
            sum(len(b.split(" ")) for b in kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    rank = {}
    for doc_id in sorted(cleaned):
        n_kept, fp = cleaned[doc_id]
        if n_kept >= _CUR_MIN_TOKS:
            rank.setdefault(fp, doc_id)
    expect = {}
    for doc_id, (n_kept, fp) in cleaned.items():
        if n_kept == 0:
            expect[doc_id] = "boiler_only"
        elif n_kept < _CUR_MIN_TOKS:
            expect[doc_id] = "too_short"
        elif rank[fp] != doc_id:
            expect[doc_id] = "duplicate"
        else:
            expect[doc_id] = "kept"
    got = {r["doc_id"]: r for r in q_curation_pipeline(spark, SF).collect()}
    assert {d: r["disposition"] for d, r in got.items()} == expect
    for d, r in got.items():
        assert r["is_output"] == (r["disposition"] == "kept")


def test_curation_dedups_cross_host_copies_only_after_stripping(spark):
    """THE reason pipeline order matters: the same article on two hosts
    carries different chrome, so raw-text dedup misses it; after the
    per-host strip the cleaned fingerprints converge and one copy is
    marked duplicate."""
    from crawler_spark import queries_search as mod

    body = "shared article body with exactly enough tokens to pass the quality gate easily " * 2
    frame = spark.createDataFrame(
        [(i, f"hostA", f"alpha unique page {i} filler content words " + " pad" * 12) for i in range(3)]
        + [(10, "hostA", body)]
        + [(i, "hostB", f"beta unique page {i} other content words " + " pad" * 12) for i in range(20, 23)]
        + [(30, "hostB", body)],
        "doc_id long, source string, text string",
    )
    # raw texts incl. chrome differ between hosts
    rawA = "nav home about contact hostA " + body
    rawB = "nav home about contact hostB " + body
    assert rawA != rawB
    orig = mod.load
    mod.load = lambda s, sf, t: frame
    try:
        rows = {r["doc_id"]: r for r in mod.q_curation_pipeline(spark, SF).collect()}
    finally:
        mod.load = orig
    assert rows[10]["kept_fp"] == rows[30]["kept_fp"], (rows[10], rows[30])
    assert rows[10]["disposition"] == "kept"
    assert rows[30]["disposition"] == "duplicate"


def test_boilerplate_fuzz_random_corpora_match_replay(spark):
    """Differential fuzz for the per-host frequency rule: random tiny
    corpora (tiny vocab so blocks collide across docs and hosts, doc
    counts straddling the min-docs guard) — Spark must equal the
    pure-Python replay on every draw."""
    from hypothesis import given, settings, strategies as st
    from crawler_spark.queries_search import strip_boilerplate

    vocab = ["aa", "bb", "cc"]
    doc_st = st.lists(st.sampled_from(vocab), min_size=1, max_size=12).map(" ".join)
    corpus_st = st.lists(
        st.tuples(st.sampled_from(["h0", "h1"]), doc_st), min_size=1, max_size=8
    )

    def replay(rows):
        blocks_by_host = defaultdict(Counter)
        host_docs = Counter()
        doc_blocks = {}
        for doc_id, host, text in rows:
            toks = text.split(" ")
            blks = [
                " ".join(toks[i * _BP_BLOCK : (i + 1) * _BP_BLOCK])
                for i in range((len(toks) + _BP_BLOCK - 1) // _BP_BLOCK)
            ]
            doc_blocks[doc_id] = (host, blks)
            host_docs[host] += 1
            for b in set(blks):
                blocks_by_host[host][b] += 1
        out = {}
        for doc_id, (host, blks) in doc_blocks.items():
            boiler = {
                b
                for b in blks
                if host_docs[host] >= 3
                and blocks_by_host[host][b] * _BP_DEN >= host_docs[host] * _BP_NUM
            }
            kept = [b for b in blks if b not in boiler]
            out[doc_id] = (
                len(blks),
                sum(1 for b in blks if b in boiler),
                sum(len(b.split(" ")) for b in kept),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )
        return out

    @settings(max_examples=6, deadline=None)
    @given(corpus_st)
    def run(pairs):
        rows = [(i, h, t) for i, (h, t) in enumerate(pairs)]
        frame = spark.createDataFrame(rows, "doc_id long, host string, text string")
        got = {
            r["doc_id"]: (r["n_blocks"], r["n_boiler"], r["n_kept_toks"], r["kept_fp"])
            for r in strip_boilerplate(frame).collect()
        }
        assert got == replay(rows)

    run()


def test_boilerplate_and_blockdf_shuffles_are_bounded_key(spark):
    plan = formatted_plan(q_boilerplate_strip(spark, SF))
    # no cartesian / no corpus self-join: the only joins are the tiny
    # host_docs broadcast and the (host, block) hash join back
    assert "CartesianProduct" not in plan, plan


# ---------------------------------------------------------------------------
# sliding-window repeated-span mining
# ---------------------------------------------------------------------------


def test_repeated_spans_catches_offset_shifted_dups_blocks_miss(spark):
    """The operator's reason to exist: a span duplicated at DIFFERENT
    alignments is invisible to fixed-block dedup (q_dedup_blocks) but
    found by the sliding window. One shared 8-token span, pos 4 in doc
    10 and pos 1 in doc 20 — exactly one output row, first occurrence
    = the (doc_id, pos)-min = (10, 4); block_dedup on the same frame
    keeps every block (no aligned duplicate exists)."""
    from crawler_spark.queries import block_dedup
    from crawler_spark.queries_search import repeated_spans

    shared = "a b c d e f g h"
    frame = spark.createDataFrame(
        [
            (10, f"x y z {shared} p q"),
            (20, f"{shared} u v w"),
        ],
        "doc_id long, text string",
    )
    rows = repeated_spans(frame).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["span"] == shared
    assert r["span_fp"] == int(hashlib.md5(shared.encode()).hexdigest()[:15], 16)
    assert (r["n_docs"], r["n_occ"]) == (2, 2)
    assert (r["first_doc"], r["first_pos"]) == (10, 4)

    blocks = {b["doc_id"]: b for b in block_dedup(frame).collect()}
    assert all(b["n_kept"] == b["n_blocks"] for b in blocks.values())


def test_repeated_spans_replay_parity_sf0001(spark):
    """Pure-Python sliding-window replay over the sf0.001 corpus equals
    the Spark output row-for-row (stats AND first-occurrence decode)."""
    from crawler_spark.queries_search import _SPAN_W, q_dup_spans

    occ = defaultdict(list)
    for doc_id, text, _src in _docs():
        toks = text.split(" ")
        for p in range(1, len(toks) - _SPAN_W + 2):
            occ[" ".join(toks[p - 1 : p - 1 + _SPAN_W])].append((doc_id, p))
    expect = {}
    for span, hits in occ.items():
        if len({d for d, _ in hits}) < 2:
            continue
        first = min(d * 2**32 + p for d, p in hits)
        expect[int(hashlib.md5(span.encode()).hexdigest()[:15], 16)] = (
            span,
            len({d for d, _ in hits}),
            len(hits),
            first // 2**32,
            first % 2**32,
        )
    got = {
        r["span_fp"]: (r["span"], r["n_docs"], r["n_occ"], r["first_doc"], r["first_pos"])
        for r in q_dup_spans(spark, SF).collect()
    }
    assert got == expect
    assert len(got) > 0  # the corpus actually exercises the operator


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------


def test_dsir_separates_disjoint_vocabularies(spark):
    """Direction property on a planted frame: target docs speak bigram
    'aaa bbb' (bucket 71), raw docs 'ccc ddd' (bucket 252 — verified
    non-colliding), and one RAW doc written in the target vocabulary
    must come out selected (positive log-weight) while the raw-vocab
    raw docs come out negative."""
    from crawler_spark.queries_search import dsir_score

    rows = [(i, True, "aaa bbb") for i in range(6)]
    rows += [(10 + i, False, "ccc ddd") for i in range(6)]
    rows.append((99, False, "aaa bbb"))  # the doc DSIR exists to find
    frame = spark.createDataFrame(rows, "doc_id long, is_target boolean, text string")
    got = {r["doc_id"]: r for r in dsir_score(frame).collect()}
    assert len(got) == 13 and all(r["n_bigrams"] == 1 for r in got.values())
    assert got[99]["selected"] and got[99]["logw"] > 0
    for i in range(6):
        assert got[i]["selected"], got[i]
        assert not got[10 + i]["selected"], got[10 + i]


def test_dsir_replay_parity_sf0001(spark):
    """Pure-Python replay of the full hashed-bigram LM pipeline
    (bucketing, add-one smoothing, floor-log2 surprisal, per-doc sum)
    over sf0.001 equals the Spark output row-for-row."""
    from crawler_spark.queries_search import _DSIR_B, _DSIR_TGT_MOD, q_dsir_weights

    def bucket(bg: str) -> int:
        return int(hashlib.md5(bg.encode()).hexdigest()[:4], 16) % _DSIR_B

    docs = []
    for doc_id, text, src in _docs():
        toks = text.split(" ")
        if len(toks) < 2:
            continue
        is_t = int(src[3:]) % _DSIR_TGT_MOD == 0
        buckets = [bucket(f"{a} {b}") for a, b in zip(toks, toks[1:])]
        docs.append((doc_id, is_t, buckets))
    cnt_t, cnt_r = Counter(), Counter()
    for _d, is_t, bks in docs:
        (cnt_t if is_t else cnt_r).update(bks)
    tot_t, tot_r = sum(cnt_t.values()), sum(cnt_r.values())

    def surp(tot: int, cnt: int) -> int:
        return ((1000 * (tot + _DSIR_B)) // (cnt + 1)).bit_length()

    expect = {}
    for doc_id, is_t, bks in docs:
        logw = sum(surp(tot_r, cnt_r[b]) - surp(tot_t, cnt_t[b]) for b in bks)
        expect[doc_id] = (is_t, len(bks), logw, logw > 0)
    got = {
        r["doc_id"]: (r["is_target"], r["n_bigrams"], r["logw"], r["selected"])
        for r in q_dsir_weights(spark, SF).collect()
    }
    assert got == expect


def test_dsir_plan_broadcasts_bucket_lm(spark):
    """The 256-bucket LM tables must come back to the occurrence stream
    as a BROADCAST join — scoring never shuffles the corpus."""
    from crawler_spark.queries_search import q_dsir_weights

    plan = formatted_plan(q_dsir_weights(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dsir_short_docs_get_explicit_negative_decision(spark):
    """Sub-2-token docs carry no bigram evidence but still get a row
    (n_bigrams 0, logw 0, selected false) — no silent no-decision."""
    from crawler_spark.queries_search import dsir_score

    frame = spark.createDataFrame(
        [(1, True, "aaa bbb"), (2, False, "solo"), (3, True, "")],
        "doc_id long, is_target boolean, text string",
    )
    got = {r["doc_id"]: r for r in dsir_score(frame).collect()}
    assert set(got) == {1, 2, 3}
    for d in (2, 3):
        assert (got[d]["n_bigrams"], got[d]["logw"], got[d]["selected"]) == (0, 0, False)


# ---------------------------------------------------------------------------
# audio near-dup
# ---------------------------------------------------------------------------


def test_audio_neardup_flags_exactly_the_planted_trims(spark):
    """Every planted '#trim' clone of a >= 2-window even-indexed clip is
    flagged against its original with full containment; no unrelated
    clip pair is flagged (micro-precision fingerprints make accidental
    full-containment collisions impossible in this corpus)."""
    import hashlib as hl

    from crawler_spark.operators.multimodal import (
        FakeDecodeBackend,
        audio_window_energies,
    )
    from crawler_spark.queries import _audio_refs
    from crawler_spark.queries_search import _AND_WIN, q_audio_neardup

    backend = FakeDecodeBackend()
    expect_dups = set()
    for ref in _audio_refs():
        payload = hl.md5(ref.encode()).hexdigest().encode("utf-8")
        wins = audio_window_energies(payload, _AND_WIN, backend)
        if int(ref[-5]) % 2 == 0 and len(wins) >= 2:
            expect_dups.add((ref, ref + "#trim"))
    rows = q_audio_neardup(spark, SF).collect()
    flagged = {(r["media_a"], r["media_b"]) for r in rows if r["near_dup"]}
    assert flagged == expect_dups
    assert len(expect_dups) > 0
    for r in rows:
        if r["near_dup"]:
            # the trim drops exactly one window: containment is full
            assert r["containment_fp"] == 1000
            assert r["n_shared"] == min(r["sz_a"], r["sz_b"])


# ---------------------------------------------------------------------------
# Good-Turing count-of-counts
# ---------------------------------------------------------------------------


def test_goodturing_discounts_on_planted_counts(spark):
    """Hand-computed GT table: bigram counts {(a,b): 3, (b,a): 2,
    (c,d): 1} give N_1 = N_2 = N_3 = 1, T = 6. r* = (r+1)N_{r+1}/N_r is
    2000/3000 milli for r = 1/2, undiscounted (3000) for the tail
    r = 3 where N_4 = 0, and the r = 0 row carries the unseen-mass
    estimate N_1/T = 1/6 as ppm."""
    from crawler_spark.queries_search import goodturing_table

    frame = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "c d")], "doc_id long, text string"
    )
    got = {
        r["r"]: (r["n_r"], r["r_star_milli"], r["mass_ppm"])
        for r in goodturing_table(frame).collect()
    }
    assert got == {
        0: (0, None, 166666),
        1: (1, 2000, 333333),
        2: (1, 3000, 500000),
        3: (1, 3000, 500000),
    }


def test_strip_boilerplate_modes_agree(spark):
    """Map-side (broadcast boiler, no text shuffle) and shuffle
    (explode -> mark-join -> reassemble) strip deliveries produce
    byte-identical outputs — both forms, including carry columns and the
    boiler-only/empty-kept edge."""
    from crawler_spark.queries import release_query_barriers
    from crawler_spark.queries_search import strip_boilerplate, strip_boilerplate_text

    chrome = "nav home about contact hostx"
    rows = []
    for i in range(6):
        rows.append((i, "hostx", "en", f"{chrome} body{i} w{i}a w{i}b w{i}c tail{i}"))
    rows.append((6, "hostx", "fr", chrome))  # strips to NOTHING (empty kept)
    rows.append((7, "tiny", "en", "too few docs for a frequency signal"))
    rows.append((8, "tiny", "en", "second page of the tiny host"))
    corpus = spark.createDataFrame(rows, "doc_id long, host string, lang string, text string")

    outs = {}
    for m in ("mapside", "shuffle"):
        outs[m] = {
            "text": sorted(
                strip_boilerplate_text(corpus, carry_cols=("lang",), mode=m).collect(),
                key=lambda r: r["doc_id"],
            ),
            "stats": sorted(strip_boilerplate(corpus, mode=m).collect(), key=lambda r: r["doc_id"]),
        }
        release_query_barriers()
    assert outs["mapside"]["text"] == outs["shuffle"]["text"]
    assert outs["mapside"]["stats"] == outs["shuffle"]["stats"]
    by_id = {r["doc_id"]: r for r in outs["mapside"]["text"]}
    assert by_id[0]["text"].startswith("body0")  # chrome gone
    assert by_id[6]["text"] == "" and by_id[6]["n_tokens"] == 0
    assert by_id[7]["text"] == rows[7][3]  # tiny host exempt
