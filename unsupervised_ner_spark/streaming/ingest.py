"""Streaming ingest: watch a pages directory, tag incrementally.

``stream_pages(spark, src_dir, out_root)`` starts a file-source stream over
parquet page files and, per micro-batch, runs the production tagging
pipeline and appends token tags + lineage via the checkpoint writer.
Exactly-once VISIBLE semantics: the stream's checkpointLocation makes the
source at-least-once, and the epoch id is passed as the checkpoint wtoken —
a replayed epoch is either skipped (already committed) or overwrites its
own ``wtoken=epoch-<id>`` directory, dropping the crashed attempt's files,
and becomes visible when its single lineage commit lands
(pipeline/checkpoint.py commit protocol).

The transformation graph inside each micro-batch is identical to the batch
path — one narrow map — so throughput characteristics carry over.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from unsupervised_ner_spark.pipeline import checkpoint as cp
from unsupervised_ner_spark.pipeline.runner import run_pipeline

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def stream_pages(
    spark: SparkSession,
    src_dir: str,
    out_root: str,
    lang_filter: str | None = "en",
    trigger_once: bool = True,
):
    """Returns the started StreamingQuery."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(src_dir)
    )

    def process(batch_df, epoch_id: int) -> None:
        stages = run_pipeline(batch_df, lang_filter=lang_filter)
        cp.write_stage(stages["tags"], out_root, "tags", wtoken=f"epoch-{epoch_id}")
        cp.write_stage(stages["triples"], out_root, "triples", wtoken=f"epoch-{epoch_id}")

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{out_root}/_stream_checkpoint")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
