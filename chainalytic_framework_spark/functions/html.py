"""HTML → text extraction as pure JVM expressions — the decode step
between the crawl's ``html: binary`` column and the ``text: string``
column every downstream operator consumes (the north-star's per-row
invariant is BYTE-IDENTICAL extracted text per url, which demands a
deterministic, version-pinned extractor — exactly what a fixed chain
of regex rewrites is, and exactly what a heuristic C library rebuild
would silently break).

Scope: the deterministic tag-level subset — script/style/comment
removal, block-tag newlines, tag stripping, the HTML-2.0 named
entities, whitespace normalization — i.e. the transform boilerplate
removal pipelines (C4, CCNet) apply before their quality filters.
Semantic extraction (readability/trafilatura-style main-content
detection) needs a DOM and is deliberately out of scope; plug it in as
a mapInPandas stage behind the same column contract if the cluster
ships the library.

Every rewrite is `regexp_replace` with RE2-compatible patterns
(non-greedy, (?is) flags — no backrefs), so the DuckDB oracle runs the
IDENTICAL chain and the driver hash-gates byte equality of the
extracted text cross-engine. Whole-stage codegen; zero Python.

Reference analogue: none (the reference ingests pre-decoded JSON
blocks; html decode is the webtext edge of this engine).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ordered rewrite chain: (pattern, replacement) — ORDER MATTERS and is
# part of the extractor's version contract
_STRIP_CHAIN: list[tuple[str, str]] = [
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    # block-level closers/openers become newlines so words don't fuse
    (r"(?i)<(?:br|hr)\s*/?>", "\n"),
    (r"(?i)</(?:p|div|li|ul|ol|h[1-6]|tr|table|blockquote)>", "\n"),
    (r"(?s)<[^>]+>", " "),
]

_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # LAST: so '&amp;lt;' decodes to '&lt;', not '<'
]


def extract_text(html: Column) -> Column:
    """Visible text of an HTML document: scripts/styles/comments out,
    block boundaries to newlines, tags stripped, core entities decoded,
    whitespace runs collapsed to single spaces, trimmed."""
    s = html
    for pat, rep in _STRIP_CHAIN:
        s = F.regexp_replace(s, pat, rep)
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def extract_title(html: Column) -> Column:
    """<title> content, entity-decoded and whitespace-normalized;
    '' when absent."""
    t = F.regexp_extract(html, r"(?is)<title[^>]*>(.*?)</title>", 1)
    for ent, ch in _ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def extract_links(html: Column) -> Column:
    """Array of href targets in document order — the crawl-frontier
    edge list (feed through functions/urls.py::canonicalize_url before
    frontier dedup)."""
    return F.regexp_extract_all(
        html, F.lit(r"""(?i)<a[^>]+href\s*=\s*["']([^"']*)["']"""), F.lit(1)
    )


def html_to_text_columns(df, html_col: str = "html", out_col: str = "text"):
    """Attach extracted text/title/link-count to a pages frame whose
    ``html`` is binary (casts via UTF-8; crawlers re-encode at fetch
    time, matching Common Crawl's WET convention)."""
    h = F.col(html_col).cast("string")
    return (
        df.withColumn(out_col, extract_text(h))
        .withColumn("title", extract_title(h))
        .withColumn("n_links", F.size(extract_links(h)).cast("long"))
    )


_ANCHOR_RE_DQ = r'(?is)<a\s[^>]*href\s*=\s*"([^"]*)"[^>]*>(.*?)</a>'
_ANCHOR_RE_SQ = r"(?is)<a\s[^>]*href\s*=\s*'([^']*)'[^>]*>(.*?)</a>"


def _clean_inline(t: Column) -> Column:
    """Inner-markup cleanup for anchor text: strip tags, decode the
    core entities, collapse whitespace, trim — the tail of
    :func:`extract_text` without the block-boundary newlines (anchor
    text is inline by construction)."""
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    for ent, ch in _ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def extract_anchor_pairs(html: Column) -> tuple[Column, Column]:
    """Parallel arrays (hrefs, anchor_texts) for the ``<a href=...>``
    anchors of a document — double-quoted anchors first in document
    order, then single-quoted ones (both quote styles are common in
    real HTML; ``extract_links`` accepts both, so must this). Anchor
    text is cleaned with :func:`_clean_inline` (inner tags stripped,
    entities decoded, whitespace collapsed). Per quote style, two
    ``regexp_extract_all`` passes (one per capture group — Spark and
    DuckDB both return one group per call) stay positionally aligned
    by construction since they walk the same matches."""
    hrefs = F.concat(
        F.regexp_extract_all(html, F.lit(_ANCHOR_RE_DQ), F.lit(1)),
        F.regexp_extract_all(html, F.lit(_ANCHOR_RE_SQ), F.lit(1)),
    )
    texts = F.transform(
        F.concat(
            F.regexp_extract_all(html, F.lit(_ANCHOR_RE_DQ), F.lit(2)),
            F.regexp_extract_all(html, F.lit(_ANCHOR_RE_SQ), F.lit(2)),
        ),
        _clean_inline,
    )
    return hrefs, texts
