"""spark-submit entrypoint for the full KG-construction job.

North rule: "run via spark-submit --py-files on a multi-executor cluster".
This file is the application; the engine ships alongside it:

    cd <repo>
    zip -qr /tmp/uns.zip unsupervised_ner_spark -x 'unsupervised_ner_spark/resources/*'
    (cd unsupervised_ner_spark && zip -qr /tmp/nerres.zip resources)
    spark-submit \
        --master <cluster> \
        --py-files /tmp/uns.zip \
        --archives /tmp/nerres.zip#nerres \
        --conf spark.executorEnv.UNSUPERVISED_NER_RESOURCES=nerres/resources \
        scripts/submit_kg_job.py \
        --input  s3://…/pages.parquet \
        --output s3://…/kg_out --lang en [--resume]

Code imports from the zip (zipimport); dimension data (signature vocabs,
descriptor-fixture parquets — things neither Python ``open()`` nor
the JVM parquet reader can use through a zip) ships as an ``--archives``
bundle, extracted per-executor and located via ``UNSUPERVISED_NER_RESOURCES``
(see ``unsupervised_ner_spark/respath.py``). This mirrors how model weights
ship in real deployments.

Job architecture (resume semantics per stage class):
- per-page stages (``typed_mentions``, ``page_triples``): incremental via
  the checkpoint commit protocol — bucketed by url, lineage row = commit
  marker, ``--resume`` recomputes only buckets not committed in BOTH stages
  and each stage writes only its own missing buckets (crash between the two
  writes cannot duplicate either).
- global stages (``entities``, ``canonical_triples``): ER is a corpus-wide
  fixpoint, so each run derives them from ALL committed per-page rows
  (``stage_read``) and overwrites atomically (parquet overwrite here; an
  Iceberg deployment does the same as a REPLACE snapshot).

Prints ONE JSON line: row counts per stage + the lineage/metrics summary.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser(description="KG-construction spark-submit job")
    ap.add_argument("--input", required=True, help="pages parquet (url, warc_ts, html, text, lang)")
    ap.add_argument("--output", required=True, help="output root (stages + _lineage)")
    ap.add_argument("--lang", default="en", help="language filter ('' disables)")
    ap.add_argument("--model", default="a100")
    ap.add_argument("--resume", action="store_true",
                    help="skip page buckets already committed in both per-page stages")
    args = ap.parse_args()

    # master/cores/memory/shuffle conf come from spark-submit, not from code
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("kg_construct").getOrCreate()

    from unsupervised_ner_spark.caching import cache_scope, scoped_persist
    from unsupervised_ner_spark.pipeline import checkpoint as ckpt
    from unsupervised_ner_spark.pipeline import er
    from unsupervised_ner_spark.pipeline.runner import (
        run_pipeline,
        typed_mentions_from_tagged,
    )

    root = args.output
    pages = spark.read.parquet(args.input)
    if args.resume:
        done_typed = ckpt.completed_buckets(spark, root, "typed_mentions")
        done_tr = ckpt.completed_buckets(spark, root, "page_triples")
        done_both = done_typed.join(done_tr, "pbucket")
        pages = (
            ckpt.with_bucket(pages)
            .join(F.broadcast(done_both), "pbucket", "left_anti")
            .drop("pbucket")
        )

    counts: dict[str, int] = {}
    with cache_scope():
        stages = run_pipeline(pages, lang_filter=args.lang or None, model=args.model)
        tagged = scoped_persist(stages["tagged"])
        typed = typed_mentions_from_tagged(tagged)
        triples = stages["triples"]
        # per-page incremental stages: each writes only ITS missing buckets
        ckpt.write_stage(
            ckpt.resume_filter(typed, root, "typed_mentions"), root, "typed_mentions"
        )
        if os.environ.get("KG_JOB_FAULT") == "between_page_stages":
            # crash-injection hook (tests/test_spark_submit_job.py): dies
            # AFTER the typed_mentions commit, BEFORE page_triples — the
            # exact window the two-stage commit protocol claims is safe
            raise SystemExit(17)
        ckpt.write_stage(
            ckpt.resume_filter(triples, root, "page_triples"), root, "page_triples"
        )

    # global ER over ALL committed per-page rows
    with cache_scope():
        typed_all = ckpt.stage_read(spark, root, "typed_mentions")
        triples_all = scoped_persist(ckpt.stage_read(spark, root, "page_triples"))
        entities, membership = er.resolve_entities(er.entity_occurrences(typed_all))
        canon = er.canonicalize_triples(triples_all, membership)
        entities.write.mode("overwrite").parquet(f"{root}/entities")
        canon.write.mode("overwrite").parquet(f"{root}/canonical_triples")

    for stage in ("typed_mentions", "page_triples"):
        counts[stage] = ckpt.stage_read(spark, root, stage).count()
    for stage in ("entities", "canonical_triples"):
        counts[stage] = spark.read.parquet(f"{root}/{stage}").count()
    metrics = ckpt.stage_metrics(spark, root)
    lineage_rows = metrics.count()
    n_buckets = metrics.select("stage", "pbucket").distinct().count()
    print(json.dumps({
        "counts": counts,
        "lineage_rows": lineage_rows,
        "committed_stage_buckets": n_buckets,
        "resume": args.resume,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
