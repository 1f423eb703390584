"""Bronze->silver text path: boilerplate extraction + sentence splitting.

All pure Column expressions (JVM-side, whole-stage codegen; no Python).

Invariant (BASELINE.json input_hint): per-url extracted text is
byte-identical to the pre-extracted ``text`` column — extraction is the
exact inverse of the deterministic wrap used by the page synthesizer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unsupervised_ner_spark.kernel.constants import END_TOKENS

# sentence delimiter for page text: one sentence per line, mirroring the
# reference's one-line-one-sentence batch scan (run_test,
# batched_main_NER.py:800-811)
SENT_SEP = "\n"


def escape_html_text(col: Column) -> Column:
    """Minimal deterministic HTML escaping (order matters: '&' first)."""
    return F.replace(
        F.replace(F.replace(col, F.lit("&"), F.lit("&amp;")), F.lit("<"), F.lit("&lt;")),
        F.lit(">"),
        F.lit("&gt;"),
    )


def unescape_html_text(col: Column) -> Column:
    """Exact inverse of :func:`escape_html_text` ('&' last)."""
    return F.replace(
        F.replace(F.replace(col, F.lit("&lt;"), F.lit("<")), F.lit("&gt;"), F.lit(">")),
        F.lit("&amp;"),
        F.lit("&"),
    )


def wrap_html(url: Column, text: Column) -> Column:
    """Deterministic boilerplate wrap (FIXTURES.md §1)."""
    return F.concat(
        F.lit("<html><head><title>"),
        url,
        F.lit("</title></head><body><p>"),
        escape_html_text(text),
        F.lit("</p></body></html>"),
    )


def extract_text(html_bin: Column, text: Column) -> Column:
    """P1-equivalent boilerplate extraction: pass ``text`` through when
    populated, else pull the <p> payload out of ``html`` (bit-deterministic,
    shared with the oracle). Null-safe on both."""
    html_str = F.decode(html_bin, "UTF-8")
    extracted = unescape_html_text(
        F.regexp_extract(html_str, r"(?s)<p>(.*)</p>", 1)
    )
    return F.coalesce(text, extracted)


def add_term_punct(sent: Column) -> Column:
    """P9 punct-termination (add_term_punct,
    ensemble/aggregate_server_json.py:39-46): append ' . ' (with trailing
    space, byte-exact) when the last char is not one of ``!,.:;?`` and the
    sentence is longer than one char."""
    last = F.substring(sent, -1, 1)
    needs = (F.length(sent) > 1) & ~last.isin(*list(END_TOKENS))
    return F.when(needs, F.concat(sent, F.lit(" . "))).otherwise(sent)


def pages_to_sentences(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> sentences(url, sent_idx,
    sent). Narrow: extract -> split on newlines -> posexplode -> blank filter
    (P3: len > 1, batched_main_NER.py:806) -> punct-terminate."""
    body = extract_text(F.col("html"), F.col("text"))
    df = pages.select(
        "url",
        F.posexplode(F.split(body, SENT_SEP)).alias("sent_idx", "raw_sent"),
    )
    sent = F.trim(F.col("raw_sent"))
    df = df.filter(F.length(sent) > 1)
    return df.select("url", "sent_idx", add_term_punct(sent).alias("sent"))
