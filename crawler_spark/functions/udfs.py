"""Arrow-vectorized Spark UDFs wrapping the pure-Python URL/parse core.

Per the north rule the engine's Python surface is pandas/Arrow UDFs only —
no row-at-a-time ``F.udf``. Everything relational (hashing, suffix tests,
regex filters) stays JVM-side via built-in functions; these UDFs cover only
what Spark lacks natively (urlparse-exact canonicalization, urljoin, and
the HTML/PDF span parser).

Every Python pass has a fixed cost (worker start, Arrow round trip) that
dwarfs the work on a small batch, so a ``CrawlEngine`` step calls none of
the single-column URL helpers below. ``parse_documents`` emits the
fragment-stripped forms the step needs (``url_nofrag`` of the page,
``internal_nofrag`` aligned with ``internal_links``) in the parse pass
itself; host derivation rides on the policy pass (frontier.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .linkextract import build_spans_html, build_spans_pdf, extract_links, html_to_markdown, pdf_markdown
from .urlnorm import canonicalize_rfc3986, host_of, normalize_url, resolve, strip_fragment

__all__ = [
    "normalize_url_udf",
    "canonicalize_rfc3986_udf",
    "strip_fragment_udf",
    "host_udf",
    "resolve_udf",
    "parse_documents",
    "PARSED_SCHEMA",
]


@F.pandas_udf(T.StringType())
def normalize_url_udf(urls: pd.Series) -> pd.Series:
    return urls.map(normalize_url, na_action="ignore")


@F.pandas_udf(T.StringType())
def canonicalize_rfc3986_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_rfc3986, na_action="ignore")


@F.pandas_udf(T.StringType())
def strip_fragment_udf(urls: pd.Series) -> pd.Series:
    return urls.map(strip_fragment, na_action="ignore")


@F.pandas_udf(T.StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    return urls.map(host_of, na_action="ignore")


@F.pandas_udf(T.StringType())
def resolve_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    return pd.Series([resolve(b, h) if b is not None and h is not None else None for b, h in zip(base, href)])


# Output of the fetch+parse stage: one row per fetched page.
PARSED_SCHEMA = T.StructType(
    [
        T.StructField("source_url", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("url_nofrag", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("markdown", T.StringType(), False),
        T.StructField("internal_links", T.ArrayType(T.StringType()), False),
        # strip_fragment of each internal link, position-aligned
        T.StructField("internal_nofrag", T.ArrayType(T.StringType()), False),
        T.StructField("external_links", T.ArrayType(T.StringType()), False),
        T.StructField("file_links", T.ArrayType(T.StringType()), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType(), False),
                        T.StructField("text", T.StringType(), False),
                        T.StructField("media_ref", T.StringType(), False),
                        T.StructField("offset", T.IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


def _parse_row(url: str, kind: str | None, payload: bytes | None, status) -> dict:
    """Parse one fetched page into markdown + classified links + spans.

    Failure semantics mirror the reference: a missing page or HTTP >= 400
    raises inside scrape -> JobError (entities.py:84-88); here that is
    ok=False with empty payload fields.
    """
    ok = payload is not None and status is not None and int(status) < 400
    if not ok:
        return {
            "markdown": "", "internal_links": [], "external_links": [],
            "file_links": [], "spans": [], "ok": False,
        }
    text = payload.decode("utf-8", "ignore")
    if kind == "pdf" or url.lower().endswith(".pdf"):
        spans = build_spans_pdf(text)
        links = extract_links("", url)
        markdown = pdf_markdown(text)
    else:
        spans, links = build_spans_html(text, url)
        markdown = html_to_markdown(text)
    return {
        "markdown": markdown,
        "internal_links": links.internal,
        "external_links": links.external,
        "file_links": links.file,
        "spans": [{"kind": s.kind, "text": s.text, "media_ref": s.media_ref, "offset": s.offset} for s in spans],
        "ok": True,
    }


def parse_documents(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: (source_url, url, host, seq, kind, payload, status)
    -> PARSED_SCHEMA rows. Arrow-batched; one Python call per batch."""
    for pdf in it:
        parsed = [
            _parse_row(u, k, p, s)
            for u, k, p, s in zip(pdf["url"], pdf["kind"], pdf["payload"], pdf["status"])
        ]
        yield pd.DataFrame(
            {
                "source_url": pdf["source_url"].values,
                "url": pdf["url"].values,
                "url_nofrag": [strip_fragment(u) for u in pdf["url"]],
                "host": pdf["host"].values,
                "seq": pdf["seq"].values,
                "ok": [p["ok"] for p in parsed],
                "markdown": [p["markdown"] for p in parsed],
                "internal_links": [p["internal_links"] for p in parsed],
                "internal_nofrag": [
                    [strip_fragment(u) for u in p["internal_links"]] for p in parsed
                ],
                "external_links": [p["external_links"] for p in parsed],
                "file_links": [p["file_links"] for p in parsed],
                "spans": [p["spans"] for p in parsed],
            }
        )
