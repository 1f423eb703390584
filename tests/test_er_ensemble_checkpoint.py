"""Tests for entity resolution, the two-model ensemble, and
checkpoint/lineage/resume."""

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from unsupervised_ner_spark.pipeline import checkpoint as cp
from unsupervised_ner_spark.pipeline import er
from unsupervised_ner_spark.pipeline.ensemble import ensemble_tags, resolve_ensemble
from unsupervised_ner_spark.pipeline.runner import run_pipeline
from unsupervised_ner_spark.pipeline.synth import synth_pages
from unsupervised_ner_spark.pipeline.text import pages_to_sentences


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, 40).cache()


@pytest.fixture(scope="module")
def typed_mentions(spark, pages):
    stages = run_pipeline(pages, lang_filter=None)
    m = stages["tagged"].select(
        "url", "sent_idx", F.posexplode("mentions").alias("mention_idx", "m")
    )
    return m.select(
        "url", "sent_idx", "mention_idx",
        F.col("m.surface").alias("surface"),
        F.split(F.col("m.prediction"), r"\[")[0].alias("pred_group"),
    ).cache()


def test_exact_canonical_merges_case_variants(spark):
    occ = spark.createDataFrame(
        [
            ("u1", 0, 0, "New York", "LOCATION"),
            ("u2", 0, 0, "new york", "LOCATION"),
            ("u3", 0, 0, "New  York", "LOCATION"),
            ("u4", 0, 0, "New York", "PERSON"),  # different type -> different node
        ],
        "url string, sent_idx long, mention_idx long, surface string, pred_group string",
    )
    nodes = er.exact_canonical(er.entity_occurrences(occ)).collect()
    locs = [n for n in nodes if n.etype == "LOCATION"]
    assert len(locs) == 1 and locs[0].n_mentions == 3
    assert len(nodes) == 2


def test_fuzzy_edges_and_components(spark):
    occ = spark.createDataFrame(
        [
            ("u1", 0, 0, "Mesothelioma", "DISEASE"),
            ("u2", 0, 0, "Mesotheliomas", "DISEASE"),
            ("u3", 0, 0, "Parkinsons", "DISEASE"),
            ("u4", 0, 0, "diabetes", "DISEASE"),
        ],
        "url string, sent_idx long, mention_idx long, surface string, pred_group string",
    )
    nodes = er.exact_canonical(er.entity_occurrences(occ))
    edges = er.fuzzy_edges(nodes, jaccard_threshold=0.6)
    e = edges.collect()
    assert len(e) >= 1  # the plural variant links
    labels, iters = er.connected_components(nodes.select("node_id"), edges)
    comp = {r.node_id: r.component for r in labels.collect()}
    by_surface = {n.norm_surface: n.node_id for n in nodes.collect()}
    assert comp[by_surface["mesothelioma"]] == comp[by_surface["mesotheliomas"]]
    assert comp[by_surface["parkinsons"]] != comp[by_surface["diabetes"]]
    assert iters <= 5


def test_canonical_entities_end_to_end(spark, typed_mentions):
    ents = er.canonical_entities(er.entity_occurrences(typed_mentions))
    rows = ents.collect()
    assert len(rows) > 0
    # duplicated sentences across pages must NOT duplicate entities
    surfaces = [r.canonical_surface for r in rows]
    assert len(surfaces) == len(set((r.entity_id, r.etype) for r in rows))
    total_mentions = sum(r.n_mentions for r in rows)
    assert total_mentions == er.entity_occurrences(typed_mentions).count()


def test_ensemble_agreement_and_conflicts(spark, pages):
    sentences = pages_to_sentences(pages)
    tags = ensemble_tags(sentences.limit(50))
    rows = tags.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.tag == "O" or r.tag[:2] in ("B_", "I_")
    # at least some non-O predictions survive the ensemble
    assert any(r.tag != "O" for r in rows)


def test_checkpoint_commit_protocol(spark, pages, tmp_path):
    """Orphan (uncommitted) writes stay invisible; same-wtoken replays are
    no-ops (the exactly-once-visible contract of streaming foreachBatch)."""
    root = str(tmp_path / "ckpt2")
    df = pages.select("url", "lang")
    n = df.count()
    cp.write_stage(df, root, "s", wtoken="epoch-0")
    assert cp.stage_read(spark, root, "s").count() == n
    # replay of the same epoch: skipped entirely — no duplicate rows
    cp.write_stage(df, root, "s", wtoken="epoch-0")
    assert cp.stage_read(spark, root, "s").count() == n
    assert cp.stage_metrics(spark, root).select("wtoken").distinct().count() == 1
    # simulate a crash between data write and lineage commit: write data
    # files with a token that never gets a lineage row -> invisible
    orphan = cp.with_bucket(df).withColumn("wtoken", F.lit("crashed"))
    orphan.write.mode("append").partitionBy("pbucket", "wtoken").parquet(f"{root}/s")
    assert cp.stage_read(spark, root, "s").count() == n
    # a successful second epoch becomes visible
    cp.write_stage(df.limit(5), root, "s", wtoken="epoch-1")
    assert cp.stage_read(spark, root, "s").count() == n + 5


def test_checkpoint_uri_root_resume_and_replay(spark, pages, tmp_path):
    """A ``file://`` root commits, replays and resumes like a local path."""
    root = (tmp_path / "ckpt_uri").as_uri()
    df = pages.select("url", "lang")
    cp.write_stage(df, root, "s", wtoken="epoch-0")
    cp.write_stage(df, root, "s", wtoken="epoch-0")  # committed: a no-op
    assert cp.stage_read(spark, root, "s").count() == df.count()
    assert cp.resume_filter(pages, root, "s").count() == 0


def test_checkpoint_replay_after_crash_before_commit(spark, pages, tmp_path, monkeypatch):
    """A write that dies between its data files and its lineage commit,
    replayed with the same token, leaves every row visible once."""
    root = str(tmp_path / "ckpt_crash")
    df = pages.select("url", "lang")
    parquet = DataFrameWriter.parquet

    def crash_on_commit(self, path, *args, **kwargs):
        if path.endswith("/_lineage"):
            raise RuntimeError("crash before the lineage commit")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_commit)
    with pytest.raises(RuntimeError, match="crash before the lineage commit"):
        cp.write_stage(df, root, "s", wtoken="epoch-0")
    monkeypatch.undo()
    cp.write_stage(df, root, "s", wtoken="epoch-0")
    assert cp.stage_read(spark, root, "s").count() == df.count()


def test_stage_read_lists_committed_token_dirs_only(spark, pages, tmp_path):
    """Readers list the committed tokens' directories and nothing else, and
    each lineage row is its bucket's (row_count, checksum) of the input."""
    root = str(tmp_path / "ckpt_files")
    df = pages.select("url", "lang")
    for token in ("epoch-0", "epoch-1"):
        cp.write_stage(df, root, "s", wtoken=token)
    committed = {"wtoken=epoch-0", "wtoken=epoch-1"}
    # orphans of crashed writes: in the bucketed shape, then in a token's own
    cp.with_bucket(df).withColumn("wtoken", F.lit("old")).write \
        .partitionBy("pbucket", "wtoken").parquet(f"{root}/s", mode="append")
    files = cp.stage_read(spark, root, "s").inputFiles()
    assert {f.rsplit("/", 2)[-2] for f in files} == committed
    cp.with_bucket(df).write.parquet(f"{root}/s/wtoken=crashed")
    files = cp.stage_read(spark, root, "s").inputFiles()
    assert {f.rsplit("/", 2)[-2] for f in files} == committed
    want = cp.with_bucket(df).groupBy("pbucket").agg(
        F.count("*").alias("row_count"),
        F.bit_xor(F.xxhash64("url", "lang")).alias("checksum"),
    ).collect()
    got = cp.stage_metrics(spark, root).filter(F.col("wtoken") == "epoch-0")
    assert sorted(got.select("pbucket", "row_count", "checksum").collect()) == sorted(want)


def test_checkpoint_resume(spark, pages, tmp_path):
    root = str(tmp_path / "ckpt")
    first = pages.filter(F.pmod(F.xxhash64("url"), F.lit(64)) < 32)
    cp.write_stage(first.select("url", "lang"), root, "pages_done")
    remaining = cp.resume_filter(pages, root, "pages_done")
    n_all, n_first, n_rem = pages.count(), first.count(), remaining.count()
    assert n_first + n_rem == n_all
    assert n_rem > 0
    # completing the rest closes the gap
    cp.write_stage(remaining.select("url", "lang"), root, "pages_done")
    assert cp.resume_filter(pages, root, "pages_done").count() == 0
    m = cp.stage_metrics(spark, root).collect()
    assert sum(r.row_count for r in m) == n_all
