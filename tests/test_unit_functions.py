"""Pure-Python unit + property tests for the shared function core
(SURVEY.md §5.3 items 1 and 3) — no Spark session needed."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from crawler_spark.functions.linkextract import (
    build_spans_html,
    build_spans_pdf,
    extract_links,
    html_to_markdown,
)
from crawler_spark.functions.urlnorm import (
    canonicalize_rfc3986,
    normalize_url,
    strip_fragment,
    url_type,
)
from crawler_spark.operators.bloom import probe_bits, set_bits
from crawler_spark.operators.politeness import RobotsTrie
from crawler_spark.oracle import FetchResult, crawl_source, make_policy


# --- URL normalization (reference parity: domain/types.py:11-24) ---


def test_normalize_reference_cases():
    assert normalize_url("https://a.org/x/") == "https://a.org/x"
    assert normalize_url("https://a.org///") == "https://a.org"
    assert normalize_url("http://a.org/x") is None  # https only
    assert normalize_url("") is None
    assert normalize_url(None) is None
    assert normalize_url("https://a.org/x://y") is None  # two '://'
    assert normalize_url("https://a.org/p#frag") == "https://a.org/p#frag"  # frag kept


def test_strip_fragment_reference_cases():
    assert strip_fragment("https://a.org/p#frag") == "https://a.org/p"
    assert strip_fragment("https://a.org/p?q=1#frag") == "https://a.org/p?q=1"
    assert strip_fragment("https://a.org/p") == "https://a.org/p"


def test_parse_documents_emits_fragment_stripped_urls():
    """parse_documents carries the page's url_nofrag and an internal_nofrag
    array aligned with internal_links — the step keys its seen and
    candidate tables on them, so each must be exactly strip_fragment."""
    import pandas as pd

    from crawler_spark.functions.udfs import PARSED_SCHEMA, parse_documents

    html = (
        '<a href="https://h/p?#x">a</a> <a href="#top">b</a> '
        '<a href="/q#y">c</a> <a href="https://h/r?k=1#z">d</a> <a href="/s">e</a>'
    ).encode()
    pages = pd.DataFrame(
        {
            "source_url": ["https://h", "https://h", "https://h"],
            "url": ["https://h/p?#x", "https://[::1/p#frag", "https://h/missing#m"],
            "host": ["h", "[::1", "h"],
            "seq": [0, 1, 2],
            "kind": ["html", "html", None],
            "payload": [html, b"<p>no links</p>", None],
            "status": [200, 200, None],
        }
    )
    (out,) = list(parse_documents(iter([pages])))
    assert list(out.columns) == PARSED_SCHEMA.fieldNames()
    # urlunparse drops the empty query; the IPv6-bracket garbage is
    # unparseable and falls back to the plain '#' split
    assert list(out["url_nofrag"]) == ["https://h/p", "https://[::1/p", "https://h/missing"]
    assert list(out["url_nofrag"]) == [strip_fragment(u) for u in out["url"]]
    links = list(out["internal_links"][0])
    # the fragment-only href is skipped, so the arrays stay aligned
    assert not any(u.startswith("#") for u in links) and len(links) == 4
    for got_links, got_nofrag in zip(out["internal_links"], out["internal_nofrag"]):
        assert list(got_nofrag) == [strip_fragment(u) for u in got_links]
    assert "https://h/p" in list(out["internal_nofrag"][0])
    assert list(out["ok"]) == [True, True, False]


def test_canonicalize_rfc3986():
    assert canonicalize_rfc3986("https://A.ORG/p") == "https://a.org/p"
    assert canonicalize_rfc3986("https://a.org:443/p") == "https://a.org/p"
    assert canonicalize_rfc3986("https://a.org:8443/p") == "https://a.org:8443/p"
    assert canonicalize_rfc3986("https://a.org/p?b=2&a=1") == "https://a.org/p?a=1&b=2"
    assert canonicalize_rfc3986("https://a.org/%7Euser") == "https://a.org/~user"
    assert canonicalize_rfc3986("http://a.org/p") is None


def test_canonicalize_reserved_escapes_not_decoded():
    """RFC 3986 §2.2: reserved escapes are NOT equivalent to their
    literals — /a%2Fb and /a/b must stay distinct URLs (decoding %2F
    would wrongly collapse them in the seen-filter)."""
    assert canonicalize_rfc3986("https://a.org/a%2Fb") == "https://a.org/a%2Fb"
    assert canonicalize_rfc3986("https://a.org/a%2Fb") != canonicalize_rfc3986("https://a.org/a/b")
    # remaining escapes get uppercase hex; unreserved ones decode
    assert canonicalize_rfc3986("https://a.org/a%2fb") == "https://a.org/a%2Fb"
    assert canonicalize_rfc3986("https://a.org/%41%2f") == "https://a.org/A%2F"
    # raw characters that need encoding still get encoded
    assert canonicalize_rfc3986("https://a.org/a b") == "https://a.org/a%20b"
    # %-escape of '%' itself survives
    assert canonicalize_rfc3986("https://a.org/x%25y") == "https://a.org/x%25y"


def test_url_type():
    assert url_type("https://a.org/x.PDF") == "pdf"
    assert url_type("https://a.org/x.pdf#sec") == "html"  # suffix test is literal
    assert url_type("https://a.org/x") == "html"


@given(st.text(max_size=80))
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(s):
    n = normalize_url(s)
    if n is not None:
        assert normalize_url(n) == n


@given(st.text(alphabet=st.characters(codec="ascii"), max_size=60))
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent(s):
    c = canonicalize_rfc3986("https://" + s)
    if c is not None:
        assert canonicalize_rfc3986(c) == c


def test_canonicalize_rejects_empty_host():
    """Hypothesis-found: 'https:////:' urlparses to an EMPTY netloc with
    path '//:', so the old code emitted 'https://:' — a URL its own
    second pass rejects (idempotence violation). No authority = invalid."""
    assert canonicalize_rfc3986("https:////:") is None
    assert canonicalize_rfc3986("https://:") is None
    assert canonicalize_rfc3986("https:////x") is None
    assert canonicalize_rfc3986("https://a.org//x") == "https://a.org//x"


# --- link extraction (manual_link_extractor.py semantics) ---

BASE = "https://base.org"


def test_extract_dedup_keeps_first_and_order():
    html = (
        '<a href="https://base.org/b">1</a>'
        '<a href="https://base.org/a">2</a>'
        '<a href="https://base.org/b">dup</a>'
    )
    links = extract_links(html, BASE)
    assert links.internal == ["https://base.org/b", "https://base.org/a"]


def test_extract_skip_and_exclusion():
    html = (
        '<a href="">e</a><a href="#">h</a><a href="#frag">f</a>'
        '<a href="https://base.org/login">l</a>'
        '<a href="mailto:x@y.z">m</a>'
        '<a href="javascript:void(0)">j</a>'
        '<a href="https://twitter.com/x">t</a>'
        '<a href="https://base.org/ok">ok</a>'
    )
    links = extract_links(html, BASE)
    assert links.internal == ["https://base.org/ok"]
    assert links.external == [] and links.file == []


def test_extract_relative_resolution_and_classify():
    html = (
        '<a href="/rel/x">r</a>'
        '<a href="sub/y">s</a>'
        '<a href="https://other.net/z">o</a>'
        '<a href="/doc.PDF">d</a>'
        '<a href="http://plain.org/q">invalid</a>'
    )
    links = extract_links(html, BASE + "/dir/page")
    assert links.internal == ["https://base.org/rel/x", "https://base.org/dir/sub/y"]
    assert links.external == ["https://other.net/z"]
    assert links.file == ["https://base.org/doc.PDF"]


def test_dedup_on_resolved_url_even_if_invalid():
    # an http:// URL enters the dedup set though normalization drops it
    html = '<a href="http://x.org/a">1</a><a href="http://x.org/a">2</a>'
    links = extract_links(html, BASE)
    assert links.internal == [] and links.external == []


# --- spans (input_hint payload) ---


def test_spans_html_interleaving_and_offsets():
    html = '<p>alpha</p><a href="https://base.org/f.pdf"></a><p>beta</p>'
    spans, links = build_spans_html(html, BASE)
    assert [(s.kind, s.text, s.media_ref) for s in spans] == [
        ("text", "alpha", ""),
        ("media", "", "https://base.org/f.pdf"),
        ("text", "beta", ""),
    ]
    assert spans[0].offset == 0
    assert spans[1].offset == html.index('<a href="https://base.org/f.pdf"')
    assert spans[2].offset == spans[1].offset
    assert links.file == ["https://base.org/f.pdf"]


def test_spans_pdf_page_order():
    spans = build_spans_pdf("page one\fpage two\f\fpage four")
    assert [s.text for s in spans] == ["page one", "page two", "page four"]
    assert spans[0].offset == 0
    assert spans[1].offset == len("page one") + 1
    assert [s.kind for s in spans] == ["text"] * 3


@given(st.text(alphabet="ab <>/&#;pn\n", max_size=200))
@settings(max_examples=150, deadline=None)
def test_markdown_deterministic_and_stable(s):
    assert html_to_markdown(s) == html_to_markdown(s)
    out = html_to_markdown(s)
    assert "<script" not in out.lower()


# --- oracle loop semantics (§3.1 contract) ---


def _web(pages: dict[str, list[str]], dead: set[str] = frozenset()) -> dict:
    web = {}
    for url, targets in pages.items():
        body = "".join(f'<a href="{t}">x</a>' for t in targets)
        status = 500 if url in dead else 200
        web[url] = FetchResult("html", f"<p>{url}</p>{body}".encode(), status)
    return web


def test_budget_counts_failures():
    web = _web(
        {"https://s.org": ["https://s.org/a"], "https://s.org/a": ["https://s.org/b"]},
        dead={"https://s.org/a"},
    )
    out = crawl_source("https://s.org", 5, web, make_policy("lexmin"))
    # seed ok -> enqueues a; a fails -> budget consumed, nothing enqueued
    assert out.crawl_order == ["https://s.org", "https://s.org/a"]
    assert out.pages_crawled == 2
    assert not out.records[1].ok


def test_seed_added_to_seen_at_pop_time():
    # a page linking back to the seed never re-enqueues it
    web = _web({"https://s.org": ["https://s.org/a"], "https://s.org/a": ["https://s.org"]})
    out = crawl_source("https://s.org", 5, web, make_policy("lexmin"))
    assert out.crawl_order == ["https://s.org", "https://s.org/a"]


def test_fragment_variant_filtered_vs_processed():
    # candidate '/a#x' is dropped because fragment-stripped it equals processed '/a'
    web = _web(
        {
            "https://s.org": ["https://s.org/a"],
            "https://s.org/a": ["https://s.org/a#x", "https://s.org/b"],
            "https://s.org/b": [],
        }
    )
    out = crawl_source("https://s.org", 5, web, make_policy("lexmin"))
    assert out.crawl_order == ["https://s.org", "https://s.org/a", "https://s.org/b"]


def test_total_pages_found_counts_new_links_only():
    web = _web(
        {
            "https://s.org": ["https://s.org/a", "https://s.org/b"],
            "https://s.org/a": ["https://s.org/b"],  # duplicate candidate
            "https://s.org/b": [],
        }
    )
    out = crawl_source("https://s.org", 5, web, make_policy("lexmin"))
    assert out.total_pages_found == 3  # seed + a + b (b counted once)


@given(st.integers(0, 2**40), st.integers(5, 40))
@settings(max_examples=50, deadline=None)
def test_policy_seeded_deterministic(seed, n):
    pol = make_policy(f"seeded:{seed}")
    cands = [f"https://x.org/{i}" for i in range(n)]
    assert pol("https://x.org", cands) == pol("https://x.org", cands)
    assert pol("https://x.org", cands) in cands


# --- bloom bit core ---


@given(
    st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=200),
    st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=200),
)
@settings(max_examples=100, deadline=None)
def test_bloom_bitcore_no_false_negatives(h1s, h2s):
    n = min(len(h1s), len(h2s))
    h1 = np.array(h1s[:n], dtype=np.int64)
    h2 = np.array(h2s[:n], dtype=np.int64)
    m_bits = 1 << 14
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    set_bits(bits, h1, h2, m_bits)
    assert probe_bits(bits, h1, h2, m_bits).all()


# --- robots trie ---


def test_robots_trie():
    t = RobotsTrie(["/private", "/tmp/x"])
    assert t.disallowed("/private")
    assert t.disallowed("/private/sub")
    assert not t.disallowed("/priv")
    assert not t.disallowed("/tmp")
    assert t.disallowed("/tmp/xyz")
    assert not RobotsTrie([]).disallowed("/anything")
    assert RobotsTrie(["/"]).disallowed("/anything")


# --- text_stat_frame repetition stats vs pure-Python Counter oracle ---


def test_text_stat_frame_repetition_matches_counter_oracle(spark):
    """text_stat_frame's Arrow-batched repetition statistics must equal the
    naive Counter definition on adversarial token streams: empty text,
    single token, all-identical tokens, empty tokens from double spaces,
    and 200 seeded random docs over a tiny vocabulary (dense repeats)."""
    import math
    import random
    from collections import Counter

    from pyspark.sql import functions as F

    from crawler_spark.pipeline import text_stat_frame

    rng = random.Random(42)
    vocab = ["a", "bb", "ccc", "a", ""]  # "" = consecutive-space token
    docs = ["", "solo", "x x x x x", "a  b", "a b a b a b"]
    for _ in range(200):
        docs.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(2, 60))))

    def oracle(doc_id, text):
        toks = text.split(" ")
        if len(toks) < 2:
            return None
        bigrams = [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
        return (
            doc_id,
            len(toks),
            math.floor(1000.0 * len(set(toks)) / len(toks)),
            math.floor(1000.0 * max(Counter(bigrams).values()) / len(bigrams)),
        )

    expected = sorted(r for r in (oracle(i, t) for i, t in enumerate(docs)) if r)
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    stats = text_stat_frame(df).where(F.col("n_bigrams") > 0)
    got = sorted(
        tuple(r)
        for r in stats.select("doc_id", "n_tokens", "distinct_milli", "top_bigram_milli").collect()
    )
    assert got == expected
