"""SparkSession construction tuned for this engine.

Defaults follow the scale posture in SURVEY.md §4: AQE on (runtime re-plan +
skew-join), Arrow on (every Python stage is vectorized), shuffle partitions
sized to cores for local mode (a cluster deployment overrides via --conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "unsupervised_ner_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §3.1/§9: let the planner pick shuffled-hash over sort-merge
        # when its build-side size conditions hold — skips both sort passes;
        # measured equal-or-faster on every probed query (round-6 A/B, six
        # heavy queries, 0-7%). Scale-safe: the planner still requires the
        # per-partition build side to fit (canBuildLocalHashMap), and AQE
        # skew-join stays on as the backstop.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Long many-query sessions (the bench/correctness harnesses run all
        # 339 queries in ONE session): the default 100-entry codegen cache
        # evicts constantly across hundreds of distinct wide plans, so every
        # pass re-pays Janino compilation (measured 5-25 s spikes on the
        # widest plans); and dead RDD/broadcast blocks linger until a full
        # GC lets the ContextCleaner run, inflating block-manager pressure
        # mid-session. Both knobs are session-shape-dependent, not
        # data-scale-dependent — a production cluster submitting one job per
        # query can drop them.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # ExplicitGCInvokesConcurrent: the ContextCleaner's periodic
        # System.gc() (above) must start a CONCURRENT G1 cycle, not a
        # stop-the-world full GC — on a filled multi-GB heap the latter
        # pauses for seconds and lands inside whichever query is running
        # (measured: late-pass medians of the longest queries inflated 2x
        # without this flag).
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.net.preferIPv4Stack=true -XX:+ExplicitGCInvokesConcurrent",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
