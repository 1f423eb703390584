"""Streaming incremental KG construction: every micro-batch of pages runs
the production extraction pipeline (sentences -> mentions -> typing ->
triples), resolves entities to their EXACT content-derived canonical ids,
aggregates a per-batch ``triple_support`` table, and commits it as one
partition of the accumulating KG — the foreachBatch composition of the
batch `er.triple_support` operator, whose url-disjoint merge contract is
proven by ``test_triple_support_incremental_merge``.

Why EXACT canonicalization per batch: the exact node id
(md5(norm_surface | etype), `er.node_id_col`) is a pure function of
content, so it is identical no matter where micro-batch boundaries fall —
per-batch tables merge by simple addition. FUZZY ER (LSH + connected
components) is corpus-global by definition: its cluster ids depend on
every page seen so far, so running it inside a micro-batch would make
canonical ids batch-boundary-dependent and the merge wrong. The
production posture at 100 TB is exactly this split: the stream maintains
the exact-canonical support table incrementally, and the fuzzy-ER
compaction (`scripts/submit_kg_job.py`'s global ER overwrite stage) runs
periodically over the accumulated table as a batch job.

Exactly-once: the single sink is ``support_dir/batch=<id>/`` written with
mode=overwrite — a replayed micro-batch (restart re-delivers the same
batch_id) overwrites its own partial output. ``read_support`` merges the
batch partitions by summing ``n_support``/``n_docs`` and taking mins —
valid because each page is delivered in exactly ONE batch (the file
source's offset log guarantees it; an upstream dedup screen such as
streaming/lsh_ingest.py additionally guarantees one copy per content).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unsupervised_ner_spark.streaming.stateful import DOCS_SCHEMA


def _docs_as_pages(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit(None).cast("string").alias("lang"),
    )


def batch_triple_support(docs: DataFrame) -> DataFrame:
    """One micro-batch of docs(doc_id, text) -> the batch-local
    triple_support table over EXACT canonical entity ids."""
    from unsupervised_ner_spark.pipeline import er
    from unsupervised_ner_spark.pipeline.runner import run_pipeline

    stages = run_pipeline(_docs_as_pages(docs), lang_filter=None)
    t = stages["triples"]

    def _id(surface, etype):
        return er.node_id_col(er.norm_surface_col(F.col(surface)), etype)

    canon = t.select(
        _id("subj", "subj_type").alias("subj_id"),
        "pred",
        _id("obj", "obj_type").alias("obj_id"),
        "subj_type",
        "obj_type",
        "url",
        "subj",
        "obj",
    )
    return er.triple_support(canon)


def process_kg_batch(batch_df: DataFrame, batch_id: int, support_dir: str) -> None:
    """foreachBatch body, exposed as a plain function so replay
    idempotency is unit-testable without a streaming runtime."""
    from unsupervised_ner_spark.caching import cache_scope

    with cache_scope():
        batch_triple_support(batch_df.select("doc_id", "text")).write.mode(
            "overwrite"
        ).parquet(f"{support_dir}/batch={batch_id}")


def read_support(spark: Any, support_dir: str) -> DataFrame:
    """The accumulated KG edge table: merge all committed batch partitions.
    Additive merge is exact under the one-batch-per-page contract (module
    docstring); ``min`` of per-batch mins is the global min. One bounded
    aggregate — the merged table is edge-sized, not corpus-sized."""
    if not os.path.isdir(support_dir) or not any(
        f.startswith("batch=") for f in os.listdir(support_dir)
    ):
        return spark.createDataFrame(
            [],
            "subj_id string, pred string, obj_id string, subj_type string, "
            "obj_type string, n_support long, n_docs long, "
            "subj_repr string, obj_repr string",
        )
    raw = spark.read.option("basePath", support_dir).parquet(support_dir)
    return raw.groupBy("subj_id", "pred", "obj_id").agg(
        F.min("subj_type").alias("subj_type"),
        F.min("obj_type").alias("obj_type"),
        F.sum("n_support").cast("long").alias("n_support"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.min("subj_repr").alias("subj_repr"),
        F.min("obj_repr").alias("obj_repr"),
    )


def stream_kg_ingest(
    spark: Any, src_dir: str, support_dir: str, checkpoint_dir: str
):
    """File-source page stream -> per-micro-batch KG extraction ->
    accumulating triple-support partitions. Returns the started
    StreamingQuery (availableNow trigger; offsets in checkpoint_dir)."""

    def _proc(bdf: DataFrame, bid: int) -> None:
        process_kg_batch(bdf, bid, support_dir)

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(_proc)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
