"""Adversarial pages through the narrow chain (pages -> sentences ->
tagging): degenerate and extreme inputs must not throw under either tagged
schema, and every tagged row must equal the single-process kernel's."""

import tracemalloc

import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from test_pipeline_parity import assert_tagged_equals_kernel

from unsupervised_ner_spark import dims
from unsupervised_ner_spark.descriptors import FixtureDescriptorProvider
from unsupervised_ner_spark.kernel.oracle import OracleTagger, add_term_punct
from unsupervised_ner_spark.pipeline.runner import run_pipeline

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"

# ~10k tokens, 3 mentions
LONG_SENT = " ".join(
    ["Mesothelioma"] + ["the", "of", "and", "to"] * 1250
    + ["asbestos"] + ["in", "on", "at", "by"] * 1250 + ["Imatinib"]
)
# 10,201 tokens, 3,401 mentions (one every third token). A record that
# carried each mention's masked sentence grew with mentions x sentence
# length: ~280 MB for this one row.
DENSE_SENT = " ".join(
    ["Mesothelioma", "asbestos", "Imatinib", "aspirin"][i % 4] + " the of"
    for i in range(3400)
) + " Mesothelioma"
NO_MENTIONS = "the of and to\nit is in on\nwe are at by"  # stopwords only

LINES = [
    "",
    "x",
    "Mesothelioma is caused by asbestos exposure",  # no terminal punctuation
    "Aspirin reduces fever in patients.",
    "The patient was treated with imatinib",
    "Мезотелиома вызвана асбестом",  # Cyrillic
    "石棉导致间皮瘤。",  # CJK, no ASCII whitespace
    "التهاب الكبد فيروسي",  # Arabic
    "Ölçüm 42 mg/dL çıktı",
    "!!!",
    "a",
    "the of and to",
]

page_text = st.one_of(
    st.just(""),
    st.lists(st.sampled_from(LINES), min_size=1, max_size=5).map("\n".join),
)
pages_strategy = st.lists(
    st.tuples(page_text, st.sampled_from([None, "en", "de"])),
    min_size=1,
    max_size=4,
)


@pytest.fixture(scope="module")
def oracle():
    return OracleTagger(
        FixtureDescriptorProvider.load("a100"),
        dims.load_entity_map(),
        dims.load_signatures("a100"),
        punct_terminate=False,
    )


def expected_sentences(pages) -> dict:
    """Single-process sentence split (one sentence per line, trimmed,
    longer than one char, punct-terminated)."""
    out = {}
    for n, (text, _lang) in enumerate(pages):
        for i, line in enumerate(text.split("\n")):
            line_s = line.strip(" ")
            if len(line_s) > 1:
                out[(f"u{n}", i)] = add_term_punct(line_s)
    return out


@settings(max_examples=12, deadline=None)
@given(pages=pages_strategy)
@example(pages=[("", None)])
@example(pages=[("x", "en")])
@example(pages=[("Mesothelioma is caused by asbestos exposure", None)])
@example(pages=[(LONG_SENT, "en")])
@example(pages=[(DENSE_SENT, "en")])
@example(pages=[("Мезотелиома вызвана асбестом\n石棉导致间皮瘤。", None)])
@example(pages=[(NO_MENTIONS, "en"), ("the of and to", None)])
def test_narrow_chain_adversarial_pages(spark, oracle, pages):
    df = spark.createDataFrame(
        [(f"u{n}", None, None, text, lang) for n, (text, lang) in enumerate(pages)],
        PAGES_DDL,
    )
    expected = expected_sentences(pages)
    for detail in (True, False):
        tagged = run_pipeline(df, lang_filter=None, detail=detail)["tagged"].collect()
        assert {(r.url, r.sent_idx): r.sent for r in tagged} == expected
        assert_tagged_equals_kernel(tagged, oracle, detail)


def test_batch_without_mentions_has_zero_offsets(spark):
    """A batch in which no sentence has a mention: every mention list is
    empty (all offsets 0), while tokens and 'O' tags still come through."""
    df = spark.createDataFrame([("u0", None, None, NO_MENTIONS, None)], PAGES_DDL)
    for detail in (True, False):
        rows = run_pipeline(df, lang_filter=None, detail=detail)["tagged"].collect()
        assert len(rows) == 3
        for r in rows:
            assert r.mentions == []
            assert r.words and set(r.tags) == {"O"}


def arrow_nbytes(df) -> int:
    """Arrow size of ``df``'s rows, measured in a Python worker so that
    only one number per batch reaches the driver."""
    sizes = df.mapInArrow(
        lambda batches: (pa.RecordBatch.from_pydict({"n": [b.nbytes]}) for b in batches),
        "n long",
    )
    return sum(r.n for r in sizes.collect())


def test_dense_sentence_kernel_peak_stays_small(oracle):
    """The kernel builds a mention's CS mask and CI probe only on a typing
    memo miss and keeps neither, so tagging the dense sentence allocates
    with its tokens and mentions, not mentions x sentence length (~190 MB
    when every mention kept its mask)."""
    tracemalloc.start()
    try:
        r = oracle.tag_sentence(DENSE_SENT)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(r.mentions) == 3401
    assert peak < 16 * 2**20


def test_dense_sentence_row_stays_small(spark):
    """The tagged row of a mention-dense sentence grows with its tokens and
    mentions, not with mentions x sentence length, in either schema."""
    df = spark.createDataFrame([("u0", None, None, DENSE_SENT, "en")], PAGES_DDL)
    for detail in (True, False):
        tagged = run_pipeline(df, lang_filter=None, detail=detail)["tagged"]
        assert tagged.select(F.size("mentions").alias("n")).first().n == 3401
        assert arrow_nbytes(tagged) < 4 * 2**20
