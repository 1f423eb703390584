"""Contract test for HFBertDescriptorProvider (VERDICT r01 item 3): run the
REAL provider class — mask substitution, batch encode, mask-position
location, top-k extraction, CI/CS probe construction — against the numpy
stand-in (unsupervised_ner_spark.testing.fake_hf), end-to-end through
tag_sentences on Spark executors."""

from __future__ import annotations

import numpy as np
import pytest

from unsupervised_ner_spark.testing import fake_hf


@pytest.fixture(scope="module")
def provider():
    return fake_hf.fake_hf_provider()


def test_descriptors_batch_topk_plumbing(provider):
    out = provider.descriptors_batch(["imatinib is a __entity__"])
    assert len(out) == 1 and len(out[0]) == 10
    # expected: top-10 of the fake logits at the mask position, whose left
    # context is the token for "a" -> UNK (not in vocab word list)
    left = fake_hf.VOCAB.get("a", fake_hf.UNK)
    row = fake_hf.expected_logits_row(left)
    idx = np.argsort(-row, kind="stable")[:10]
    expected = [(fake_hf.ID2TOK.get(int(i), f"tok{int(i)}"), float(row[i])) for i in idx]
    assert out[0] == expected
    # winners are real word-list tokens (the boost worked)
    assert all(not t.startswith("tok") for t, _ in out[0])


def test_no_mask_position_yields_empty(provider):
    assert provider.descriptors_batch(["no mask here"]) == [[]]


def test_ci_probe_masks_the_template_word(provider):
    """CI side: the trailing template word 'entity' is the masked position
    (DISPATCH_MASK_TAG, main_NER.py:15,:502) — the descriptors must equal a
    direct batch call on '<span> is a __entity__'."""
    via_side = provider.descriptors("imatinib", "ci", context="Imatinib is a entity")
    direct = provider.descriptors_batch(["Imatinib is a __entity__"])[0]
    assert via_side == direct and len(via_side) == 10


def test_cs_uses_masked_context(provider):
    via_side = provider.descriptors("imatinib", "cs", context="patients take __entity__ daily")
    direct = provider.descriptors_batch(["patients take __entity__ daily"])[0]
    assert via_side == direct


def test_cache_key_is_none(provider):
    # context-sensitive providers must not be memoized
    assert provider.cache_key("x", context="y") is None


def test_tag_sentences_end_to_end_with_hf_provider(spark):
    """The full production tagging stage with provider_factory=HF(fakes):
    three sentences through the tagging mapInArrow on executors -> BIO tags emitted."""
    from unsupervised_ner_spark.pipeline.tagging import tag_sentences

    s = spark.createDataFrame(
        [
            ("u0", 0, "Imatinib treats leukemia . "),
            ("u1", 0, "Paris is a city . "),
            ("u2", 0, "Mesothelioma:__entity__ is caused by asbestos:__entity__ . "),
        ],
        "url string, sent_idx int, sent string",
    )
    tagged = tag_sentences(s, provider_factory=fake_hf.fake_hf_provider).collect()
    assert len(tagged) == 3
    by_url = {r.url: r for r in tagged}
    # marker sentence: spans bypass POS, mentions detected
    assert [m.surface for m in by_url["u2"].mentions] == ["Mesothelioma", "asbestos"]
    # every mention got a prediction through the HF plumbing
    for r in tagged:
        for m in r.mentions:
            assert m.prediction and isinstance(m.prediction, str)
        assert len(r.tags) == len(r.words)
        assert all(t == "O" or t[:2] in ("B_", "I_") for t in r.tags)


def test_provider_factory_runs_once_per_worker(spark, tmp_path):
    """tag_sentences builds one provider per worker process, not one per
    task: two jobs of 8 tasks each construct it once in every worker pid."""
    from collections import Counter

    from pyspark.sql import functions as F

    from unsupervised_ner_spark.pipeline.tagging import tag_sentences
    from unsupervised_ner_spark.testing.counting import CountingFixtureFactory

    log = tmp_path / "constructions"
    s = spark.range(0, 32, 1, 8).select(
        F.col("id").cast("string").alias("url"),
        F.col("id").cast("int").alias("sent_idx"),
        F.lit("Imatinib treats leukemia . ").alias("sent"),
    )
    tagged = tag_sentences(s, provider_factory=CountingFixtureFactory(str(log)))
    for _ in range(2):
        tagged.write.format("noop").mode("overwrite").save()
    per_pid = Counter(log.read_text().split())
    assert per_pid and set(per_pid.values()) == {1}, per_pid
