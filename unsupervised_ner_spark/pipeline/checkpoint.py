"""Checkpoint / lineage / resume (north rule: "resumable from checkpoint
with per-partition lineage + metrics").

Layout: parquet, one directory per write, ``{root}/{stage}/wtoken=<token>/``,
plus the ``{root}/_lineage`` table that names which tokens are visible (the
log of a Delta-style table: readers never list the stage directory). Iceberg
is not on this classpath (BASELINE.md). The resume algebra:

- every pages-derived row carries ``pbucket = pmod(xxhash64(url), 64)``
  as a column (the analogue of Iceberg ``bucket(64, url)`` in FIXTURES.md
  §1); one write task writes one file, whatever its buckets;
- COMMIT PROTOCOL (crash-safe, replay-idempotent): data files land first in
  the token's directory (overwritten, so a crashed attempt's files go), then
  one lineage row per bucket — (stage, wtoken, pbucket, row_count, checksum),
  computed by RE-READING that directory (never by re-evaluating the
  possibly-nondeterministic input plan) — is appended to ``_lineage``. The
  lineage row IS the commit marker: readers (``stage_read``) and resume
  (``completed_buckets``) only see tokens present in lineage, so a crash
  between the data write and the lineage append leaves an orphan directory
  no reader lists, not duplicates. A replay with the SAME wtoken (e.g. a
  restarted streaming epoch) is skipped once committed, and rewrites its
  own directory otherwise — exactly-once visible semantics over an
  at-least-once writer;
- checksum is an order-independent XOR of per-row xxhash64 (paired with
  row_count so cancellation needs identical duplicate rows) — cheap,
  associative, partition-parallel, overflow-free under ANSI mode;
- resume = anti-join the input's buckets against the lineage table's
  committed buckets for that stage, recompute only the gap
  (reference analog: append-only logs + per-sentence flush,
  batched_main_NER.py:77-79,550). Roots may be any Hadoop URI.
"""

from __future__ import annotations

import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS_DEFAULT = 64


def with_bucket(df: DataFrame) -> DataFrame:
    return df.withColumn("pbucket", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS_DEFAULT)))


def _checksum_cols(df: DataFrame) -> list[str]:
    return [
        c for c, t in df.dtypes
        if c != "pbucket"
        and not t.startswith(("array", "struct", "map", "binary"))
    ]


def _lineage(spark: SparkSession, root: str, stage: str) -> DataFrame | None:
    """The stage's lineage rows; None before the root's first commit. The
    read itself tests existence, so a ``file://``/``hdfs://``/``s3a://``
    root resolves like a local path."""
    try:
        lineage = spark.read.parquet(f"{root}/_lineage")
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None
    return lineage.filter(F.col("stage") == stage)


def is_committed(spark: SparkSession, root: str, stage: str, wtoken: str) -> bool:
    """True iff a lineage commit marker exists for (stage, wtoken)."""
    lineage = _lineage(spark, root, stage)
    return lineage is not None and lineage.filter(F.col("wtoken") == wtoken).limit(1).count() > 0


def write_stage(df: DataFrame, root: str, stage: str, wtoken: str | None = None) -> str:
    """Write a stage's rows, ``pbucket`` as a column, to its own directory
    ``{root}/{stage}/wtoken=<token>`` (one file per write task, no
    shuffle), then its lineage commit rows. Returns the wtoken used.

    ``wtoken`` identifies the write: pass a stable id (e.g. a streaming
    epoch) to make replays idempotent — an already-committed token is a
    no-op, an uncommitted one overwrites its crashed attempt's files.
    Default: a fresh uuid (plain batch append).
    """
    spark = df.sparkSession
    token = wtoken or uuid.uuid4().hex[:16]
    if wtoken is not None and is_committed(spark, root, stage, token):
        return token  # replayed epoch: already visible, skip entirely
    path = f"{root}/{stage}/wtoken={token}"
    with_bucket(df).write.mode("overwrite").parquet(path)
    # lineage FROM THE WRITTEN FILES (not the input plan), then the commit
    written = spark.read.parquet(path)
    lineage = (
        written.groupBy("pbucket")
        .agg(
            F.count("*").alias("row_count"),
            F.bit_xor(F.xxhash64(*_checksum_cols(written))).alias("checksum"),
        )
        .withColumn("stage", F.lit(stage))
        .withColumn("wtoken", F.lit(token))
    )
    lineage.write.mode("append").parquet(f"{root}/_lineage")
    return token


def stage_read(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """Committed rows of a stage: reads exactly the directories of the
    tokens in lineage (orphans from crashed writes are never listed)."""
    committed = stage_metrics(spark, root).filter(F.col("stage") == stage)
    tokens = sorted(r.wtoken for r in committed.select("wtoken").distinct().collect())
    return spark.read.parquet(*(f"{root}/{stage}/wtoken={t}" for t in tokens)).drop("pbucket")


def completed_buckets(spark: SparkSession, root: str, stage: str) -> DataFrame:
    lineage = _lineage(spark, root, stage)
    if lineage is None:
        return spark.createDataFrame([], "pbucket long")
    return lineage.select("pbucket").distinct()


def resume_filter(pages: DataFrame, root: str, stage: str) -> DataFrame:
    """Input rows whose bucket has NOT been committed for ``stage`` —
    broadcast anti-join (the completed-bucket list is tiny)."""
    spark = pages.sparkSession
    done = completed_buckets(spark, root, stage)
    return with_bucket(pages).join(
        F.broadcast(done), "pbucket", "left_anti"
    ).drop("pbucket")


def stage_metrics(spark: SparkSession, root: str) -> DataFrame:
    """The lineage/metrics table (stage, wtoken, pbucket, row_count, checksum)."""
    return spark.read.parquet(f"{root}/_lineage")
