"""Boilerplate wrap / strip for the ``html`` binary column (operator C1).

The reference consumes pre-extracted text (`Document.text`,
/root/reference/stanza/models/common/doc.py:123-131) — extraction is our
overlay stage.  Contract (north rule): ``extract_text_expr(html)`` must
be byte-identical to the gold ``text`` per url.

Both directions are pure Catalyst expressions (regexp + chained replace),
JVM-side inside whole-stage codegen — no Python, no shuffle.  Entity escaping
is exact over the three critical characters; ``&amp;`` is escaped first and
unescaped last so round-trips are lossless for any input text.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

ARTICLE_RE = r"(?s).*<article>(.*?)</article>.*"


def _escape(col: Column) -> Column:
    c = F.regexp_replace(col, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    return F.regexp_replace(c, ">", "&gt;")


def _unescape(col: Column) -> Column:
    c = F.regexp_replace(col, "&lt;", "<")
    c = F.regexp_replace(c, "&gt;", ">")
    return F.regexp_replace(c, "&amp;", "&")


def wrap_html_expr(text: Column, doc_id: Column) -> Column:
    """text -> binary html with deterministic boilerplate."""
    s = F.concat(
        F.lit("<html><head><title>Doc "), doc_id.cast("string"),
        F.lit("</title><script>var page_id="), doc_id.cast("string"),
        F.lit(";</script></head><body>"
              "<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a></nav>"
              "<article>"),
        _escape(text),
        F.lit("</article>"
              "<footer>&copy; 2024 example.org &middot; all rights reserved"
              "</footer></body></html>"),
    )
    return F.encode(s, "UTF-8")


def extract_text_expr(html: Column) -> Column:
    """binary html -> extracted article text (byte-identical to the gold)."""
    s = F.decode(html, "UTF-8")
    body = F.regexp_replace(s, ARTICLE_RE, "$1")
    return _unescape(body)
