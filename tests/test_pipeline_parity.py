"""Distributed-vs-oracle parity: the Spark pipeline must reproduce the
single-process oracle token-for-token (SURVEY.md §5.2), and the kg_masks
column algebra must rebuild the kernel's masks and probes."""

import pytest

from unsupervised_ner_spark import dims
from unsupervised_ner_spark.descriptors import FixtureDescriptorProvider
from unsupervised_ner_spark.kernel import spans as S
from unsupervised_ner_spark.kernel.oracle import OracleTagger, add_term_punct
from unsupervised_ner_spark.pipeline.runner import (
    masked_mentions_from_tagged,
    run_pipeline,
)
from unsupervised_ner_spark.pipeline.tagging import tag_sentences
from unsupervised_ner_spark.pipeline.synth import synth_pages
from unsupervised_ner_spark.pipeline.text import extract_text, pages_to_sentences

N_PAGES = 60


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def stages(pages):
    return run_pipeline(pages, lang_filter=None, detail=True)


@pytest.fixture(scope="module")
def oracle():
    return OracleTagger(
        FixtureDescriptorProvider.load("a100"),
        dims.load_entity_map(),
        dims.load_signatures("a100"),
        punct_terminate=False,
    )


def test_extract_text_byte_identical(spark, pages):
    """input_hint invariant: per-url extracted text byte-identical."""
    import pyspark.sql.functions as F

    df = pages.select(
        "url", extract_text(F.col("html"), F.col("text")).alias("body"), "text", "html"
    )
    rows = df.collect()
    assert len(rows) == N_PAGES
    for r in rows:
        assert r.body is not None and len(r.body) > 0
        if r.text is not None:
            assert r.body == r.text  # pass-through side
        else:
            assert "<p>" not in r.body and "&amp;" not in r.body


def test_sentences_match_oracle_splitting(spark, pages, stages):
    sents = stages["sentences"].collect()
    # rebuild expected: driver-side split of the extracted text
    import pyspark.sql.functions as F

    bodies = {
        r.url: r.body
        for r in pages.select(
            "url", extract_text(F.col("html"), F.col("text")).alias("body")
        ).collect()
    }
    expected = {}
    for url, body in bodies.items():
        for i, line in enumerate(body.split("\n")):
            line_s = line.strip()
            if len(line_s) > 1:
                expected[(url, i)] = add_term_punct(line_s)
    got = {(r.url, r.sent_idx): r.sent for r in sents}
    assert got == expected


def kernel_mention(m, detail: bool = True) -> dict:
    """The kernel's MentionResult as the tagged row's mention struct
    (MENTION when ``detail``, else MENTION_SLIM): ``conf`` is the top
    pooled confidence (1.0 when nothing is pooled)."""
    out = {
        "begin_tok": m.begin_tok,
        "end_tok": m.end_tok,
        "surface": m.surface,
        "prediction": m.prediction,
        "conf": m.pooled[0][1] if m.pooled else 1.0,
    }
    if not detail:
        return out
    return {
        **out,
        "cs_dist": [{"e": e, "conf": c} for e, c in m.cs_dist],
        "ci_dist": [{"e": e, "conf": c} for e, c in m.ci_dist],
    }


def assert_tagged_equals_kernel(rows, oracle, detail: bool) -> None:
    """Every tagged row equals the single-process kernel's result for its
    sentence: tokens, tags and every mention field."""
    for row in rows:
        o = oracle.tag_sentence(row.sent)
        assert row.sent == o.text
        assert row.words == o.words, row.sent
        assert row.tags == o.tags, row.sent
        got = [m.asDict(recursive=True) for m in row.mentions]
        assert got == [kernel_mention(m, detail) for m in o.mentions], row.sent


def test_tagged_matches_oracle(stages, oracle):
    """Token-level BIO parity + every MENTION field against the kernel."""
    tagged = stages["tagged"].collect()
    assert len(tagged) > 0
    assert any(0.0 < m.conf < 1.0 for r in tagged for m in r.mentions)
    assert any(m.cs_dist and m.ci_dist for r in tagged for m in r.mentions)
    assert_tagged_equals_kernel(tagged, oracle, detail=True)


def test_slim_tagged_matches_oracle(pages, oracle):
    """detail=False: every MENTION_SLIM field."""
    tagged = run_pipeline(pages, lang_filter=None, detail=False)["tagged"].collect()
    assert len(tagged) > 0
    assert sum(len(r.mentions) for r in tagged) > 0
    assert_tagged_equals_kernel(tagged, oracle, detail=False)


# marker sentences (ensemble/utils/common.py:66-79): marked tokens are the
# mentions, a bare trailing marker is a blank-probe mention; the non-ASCII
# lowercase mentions pin the probe's Unicode capitalization (str.islower)
MARKER_SENTS = [
    "He felt New:__entity__ York:__entity__ has a chance .",
    "Patients with mesothelioma:__entity__ report asbestos exposure .",
    "Aspirin:__entity__ and imatinib:__entity__ treat it :__entity__",
    "Пациенты с мезотелиома:__entity__ и ασβέστωση:__entity__ и éthanol:__entity__ .",
]


def test_sql_mentions_agree_with_udf_path(spark, stages, oracle):
    """The kg_masks column algebra (runner.masked_mentions_from_tagged)
    rebuilds exactly the kernel's per-mention CS mask and CI probe from the
    tagged row's words, on the synthetic corpus and on marker sentences."""
    markers = spark.createDataFrame(
        [("marker", i, s) for i, s in enumerate(MARKER_SENTS)],
        "url string, sent_idx int, sent string",
    )
    sentences = stages["sentences"].select("url", "sent_idx", "sent").unionByName(markers)
    tagged = tag_sentences(sentences, detail=False)
    got = {
        (r.url, r.sent_idx, r.mention_idx): (
            r.begin_tok, r.end_tok, r.surface, r.masked_sent, r.ci_probe,
        )
        for r in masked_mentions_from_tagged(tagged).collect()
    }
    expected = {}
    for r in sentences.collect():
        tokens = S.parse_tokens(r.sent)
        for i, m in enumerate(oracle.tag_sentence(r.sent).mentions):
            expected[(r.url, r.sent_idx, i)] = (
                m.begin_tok, m.end_tok, m.surface,
                S.masked_sentence(tokens, m), S.ci_probe(m.surface),
            )
    assert sum(k[0] == "marker" for k in expected) == 8
    assert "Мезотелиома is a entity" in {v[4] for v in expected.values()}
    assert got == expected


def test_triples_shape(stages):
    t = stages["triples"]
    rows = t.collect()
    assert len(rows) > 0
    for r in rows[:50]:
        assert r.subj_type != "OTHER" and r.obj_type != "OTHER"
        assert r.pred
    # flagship example: asbestos-mesothelioma sentences yield a
    # DISEASE -> caused-by chain
    hit = [
        r
        for r in rows
        if r.subj == "Mesothelioma" and "asbestos" in r.obj
    ]
    assert hit, "expected Mesothelioma triple in synth corpus"


def test_pipeline_plan_is_narrow(stages):
    """No Exchange in the physical plan up to token tags (SURVEY.md §4.3)."""
    plan = stages["tags"]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
