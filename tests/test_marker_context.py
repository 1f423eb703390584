"""Three-way parity on MARKER corpora (":__entity__" tagging), including
bare markers with empty surfaces — the context-key path (ADVICE r01: the
single-process kernel, the Spark tagging pass, and the DuckDB oracle must
agree on corpora containing markers, which the driver's sf tables never
exercise).

Legs compared per mention: (1) the single-process kernel (OracleTagger),
(2) the Spark kernel UDF (run_pipeline -> typed_mentions_from_tagged),
(3) oracle_sql.kg_typed_mentions via DuckDB.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from unsupervised_ner_spark import dims, oracle_sql
from unsupervised_ner_spark.descriptors import FixtureDescriptorProvider
from unsupervised_ner_spark.kernel.oracle import OracleTagger
from unsupervised_ner_spark.pipeline.runner import run_pipeline, typed_mentions_from_tagged

MARKER_LINES = [
    # trailing bare marker: context key = previous word ("parkinsons")
    "Parkinsons :__entity__",
    # sentence-initial bare marker: no context -> OOV
    ":__entity__ starts the sentence",
    # ordinary marker path (non-empty surfaces)
    "Mesothelioma:__entity__ is caused by asbestos:__entity__",
    # mid-sentence bare marker (not a blank probe after punct-termination)
    "eGFR :__entity__ below 60",
    # consecutive bare markers: empty stripped words collapse when the masked
    # sentence is re-split, so BOTH context-key on "imatinib"
    "Imatinib :__entity__ :__entity__",
    # numeric surface next to a bare marker
    "60 :__entity__",
    # surface "eGFR" after the bare marker keyed on "egfr" above: the
    # tagger's memo must not hand it that marker's OOV CI side
    "A eGFR below 60 indicates chronic kidney disease",
]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, line, "en") for i, line in enumerate(MARKER_LINES)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def spark_typed(spark, docs):
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text", "lang",
    )
    stages = run_pipeline(pages, lang_filter=None)
    typed = typed_mentions_from_tagged(stages["tagged"])
    return {
        (r.url, r.sent_idx, r.mention_idx): (r.surface, r.prediction)
        for r in typed.collect()
    }


def test_spark_typed_matches_kernel(spark, docs, spark_typed):
    tagger = OracleTagger(
        FixtureDescriptorProvider.load("a100"),
        dims.load_entity_map(),
        dims.load_signatures("a100"),
        punct_terminate=True,
    )
    expected = {}
    for r in docs.collect():
        res = tagger.tag_sentence(r.text.strip())
        for mi, m in enumerate(res.mentions):
            expected[(str(r.doc_id), 0, mi)] = (m.surface, m.prediction)
    assert spark_typed == expected
    # the context-key path must actually type something (not all OTHER)
    assert any(p != "OTHER" for _, p in expected.values())


def test_spark_typed_matches_duckdb_oracle(spark, docs, spark_typed, tmp_path):
    pq = str(tmp_path / "documents.parquet")
    docs.toPandas().to_parquet(pq)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')")
    got = {
        (r.url, r.sent_idx, r.mention_idx): (r.surface, r.prediction)
        for r in con.sql(oracle_sql.kg_typed_mentions()).df().itertuples()
    }
    assert got == spark_typed


def test_oov_descs_are_signature_misses():
    """The OOV descriptor words must stay OUTSIDE every bootstrap signature
    vocabulary, or OOV spans silently inherit a real type (round-1 bug:
    'with' -> DISEASE in the a100 vocab)."""
    from unsupervised_ner_spark.descriptors import OOV_DESCS

    for model in ("a100", "bbc"):
        sigs = dims.load_signatures(model)
        hits = [d for d, _ in OOV_DESCS if d in sigs]
        assert hits == [], f"OOV descs present in {model} signatures: {hits}"


@pytest.mark.parametrize("model", ["a100", "bbc"])
def test_worker_bundle_matches_its_sources(model):
    """The committed fixture parquets the tagging workers, the kernel
    oracle and the DuckDB twins read must be what scripts/gen_fixtures.py
    builds from the vendored term lists: rerun it after editing them."""
    import sys

    import pyarrow.parquet as pq

    from unsupervised_ner_spark.descriptors import FIXTURES_DIR

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    import gen_fixtures

    for name, built in [
        (f"descriptor_fixture_{model}", gen_fixtures.build_descriptor_fixture(model)),
        (f"entity_signatures_{model}", gen_fixtures.build_signature_table(model)),
        ("entity_map", gen_fixtures.build_entity_map()),
    ]:
        assert pq.read_table(FIXTURES_DIR / f"{name}.parquet").equals(built), name


def test_bare_marker_context_key_types_from_context(spark_typed):
    # "Parkinsons :__entity__": the bare-marker mention (empty surface) must
    # inherit a context-keyed type, not collapse to OTHER
    bare = [v for k, v in spark_typed.items() if k[0] == "0" and v[0] == ""]
    assert len(bare) == 1
    assert bare[0][1] != "OTHER"
    # sentence-initial bare marker has no context -> OOV -> OTHER
    initial = [v for k, v in spark_typed.items() if k[0] == "1" and v[0] == ""]
    assert len(initial) == 1
    assert initial[0][1] == "OTHER"
