"""The benchmark's workloads: the chains they drive through the engine's
public functions, their output checks, and their timed and traced runs.

- ``tag_stream``: the narrow chain ``run_pipeline(lang_filter="en")
  ["triples"]`` into the noop sink over the low-diversity corpus.
- ``er_ckpt``: the ``scripts/submit_kg_job.py`` sequence replayed as
  in-session calls over the entity-dense corpus — checkpointed per-page
  stages (``write_stage``), ``stage_read`` lineage re-reads, entity
  resolution and canonical triples, overwrite writes — run as a crash (a
  seeded half of the page buckets committed, plus orphan files of an
  uncommitted write) followed by a resume over the full input, then once
  uninterrupted into a fresh root.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
from pathlib import Path

import corpus
import oracle
from spans import NullTracer, Tracer, chain_self_sum

TAG_PAGES = 6000
ER_PAGES = 600
ER_FAMILIES = 4000
TAG_SAMPLE_PAGES = 40
WARM_JOBS = 3
TRACE_REPS = 3
OCC_COLS = ("url", "sent_idx", "mention_idx", "surface", "pred_group")
WARM_SENT = "Imatinib mesylate is used to treat nsclc . "


def bundle_warmup(spark, cores: int) -> None:
    """The warm-up pass of set-up: one tagging task per core, so every
    Python worker loads the per-worker tagger bundle."""
    from pyspark.sql import functions as F
    from unsupervised_ner_spark.pipeline.tagging import tag_sentences

    df = spark.range(0, 4 * cores, 1, cores).select(
        F.col("id").cast("string").alias("url"),
        F.col("id").cast("int").alias("sent_idx"),
        F.lit(WARM_SENT).alias("sent"),
    )
    tag_sentences(df, detail=False).write.format("noop").mode("overwrite").save()


def _check(name: str, got, want, failures: list) -> None:
    if tuple(got) != tuple(want):
        failures.append(f"{name}: got {tuple(got)}, want {tuple(want)}")


class Workload:
    name = ""
    n_files = 8

    def __init__(self, root: Path, work: Path, seed: int, cores: int):
        self.root, self.work, self.seed, self.cores = root, work, seed, cores
        self.input = work / "input"
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def prepare(self) -> dict:
        """Generate, stage and compute the expected outputs (not timed)."""
        pages = self.generate()
        corpus.stage_pages(pages, self.input, self.n_files)
        self.n_pages = len(pages)
        self.expected = oracle.Expected(pages, "en", oracle.make_tagger())
        self.want = self.expected.digests()
        return {"pages": self.n_pages, "input_sha256": corpus.pages_digest(pages),
                "expected": {k: list(v) for k, v in self.want.items()}}

    def record(self, failures: list) -> None:
        """One checked execution; it failed if any of its checks did."""
        self.attempted += 1
        self.failed += bool(failures)
        self.failures.extend(failures)

    def pages_df(self, spark):
        return spark.read.parquet(str(self.input))

    def derived(self, report: dict, tracers: list) -> dict:
        """Ratios and counts of a traced run. ``tagging.kernel_s`` is the
        single-process kernel over as many sentences as the traced tagging
        steps emitted, divided by the cores."""
        sents = [s for _u, _i, s in self.expected.sents]
        tagger = self.expected.tagger
        t0 = time.perf_counter()
        for s in sents:
            tagger.tag_sentence(s)
        per_sent = (time.perf_counter() - t0) / len(sents)
        tagging = report["tagging"]
        kernel_s = per_sent * tagging["rows_out"] / self.cores
        typed = self.expected.typed
        return {
            "tagging.kernel_s": kernel_s,
            "tagging.udf_overhead_s": tagging["s"] - kernel_s,
            "tagging.typed_share": sum(t[6] != "OTHER" for t in typed) / len(typed),
            "tagging.mentions_per_sent": len(typed) / len(sents),
        }


# -- tag_stream ----------------------------------------------------------
class TagStream(Workload):
    name = "tag_stream"

    def generate(self):
        return corpus.low_diversity_pages(self.root, self.seed, TAG_PAGES)

    def iteration(self, spark) -> float:
        """One timed job; its output digest is observed by the same action."""
        from pyspark.sql import Observation
        from unsupervised_ner_spark.pipeline.runner import run_pipeline

        t0 = time.perf_counter()
        triples = run_pipeline(self.pages_df(spark), lang_filter="en")["triples"]
        obs = Observation()
        triples.observe(obs, *oracle.spark_digest_exprs(oracle.TRIPLE_COLS)) \
            .write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        got = obs.get
        fails = []
        _check("triples", (got["n"], got["crc"]), self.want["triples"], fails)
        self.record(fails)
        return dt

    def check_tags(self, spark) -> None:
        """Spark tags of a seeded page sample against the kernel oracle."""
        from pyspark.sql import functions as F
        from unsupervised_ner_spark.pipeline.runner import run_pipeline

        urls = sorted({u for u, _i, _s in self.expected.sents})
        sample = random.Random(f"tags:{self.seed}").sample(urls, TAG_SAMPLE_PAGES)
        rows = (
            run_pipeline(self.pages_df(spark).filter(F.col("url").isin(sample)),
                         lang_filter="en")["tagged"]
            .select("url", "sent_idx", "sent", "words", "tags", "mentions").collect()
        )
        fails = []
        want_n = sum(1 for u, _i, _s in self.expected.sents if u in set(sample))
        _check("tag sample rows", (len(rows),), (want_n,), fails)
        bad = oracle.sample_tags(self.expected, rows)
        if bad:
            fails.append(f"tag sample: {bad} of {len(rows)} sentences differ from the kernel")
        self.record(fails)

    def warm(self, spark) -> None:
        """Jobs that compile the plans and let the JIT settle; checked, not timed."""
        for _ in range(WARM_JOBS):
            self.iteration(spark)

    def timed(self, spark, seconds: float) -> dict:
        self.warm(spark)
        walls = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(walls) < 3:
            walls.append(self.iteration(spark))
        self.check_tags(spark)
        return {"docs_per_s": self.n_pages / statistics.median(walls), "walls_s": walls}

    def traced_chain(self, spark, tr):
        from pyspark.sql import functions as F
        from unsupervised_ner_spark.pipeline.runner import typed_mentions_from_tagged
        from unsupervised_ner_spark.pipeline.tagging import (
            tag_sentences,
            tagged_to_token_tags,
        )
        from unsupervised_ner_spark.pipeline.text import pages_to_sentences
        from unsupervised_ner_spark.pipeline.triples import tagged_to_triples

        sents, s_text = tr.step("text", lambda: pages_to_sentences(
            self.pages_df(spark).filter(F.col("lang") == "en")), sink=True)
        tagged, s_tag = tr.step("tagging", tag_sentences, sents, detail=False,
                                sink=True, base=[s_text])
        _, s_tri = tr.step("triples", tagged_to_triples, tagged, sink=True, base=[s_tag],
                           observe=oracle.spark_digest_exprs(oracle.TRIPLE_COLS))
        tr.step("runner.typed", typed_mentions_from_tagged, tagged, sink=True,
                base=[s_tag], on_chain=False)
        tr.step("tagging.bio", tagged_to_token_tags, tagged, sink=True,
                base=[s_tag], on_chain=False)
        fails = []
        _check("traced triples", (s_tri.observed["n"], s_tri.observed["crc"]),
               self.want["triples"], fails)
        self.record(fails)

    def traced(self, spark, run_id: str) -> dict:
        """Three traced chains interleaved with untraced jobs, all warm; the
        repetition whose on-chain self times sum to the median is kept."""
        self.warm(spark)
        walls = [self.iteration(spark)]
        reps = []
        for i in range(TRACE_REPS):
            tr = Tracer(spark, f"{run_id}-{i}")
            t0 = time.perf_counter()
            self.traced_chain(spark, tr)
            reps.append((chain_self_sum(tr), time.perf_counter() - t0, tr))
            walls.append(self.iteration(spark))
        _sum, traced_s, tr = sorted(reps, key=lambda r: r[0])[len(reps) // 2]
        return {"tracers": [tr], "scale4": [tr], "traced_s": traced_s, "walls_s": walls,
                "untraced_s": statistics.median(walls)}

    def traced_scaling(self, spark, run_id: str) -> list:
        tr = Tracer(spark, run_id)
        self.traced_chain(spark, tr)
        return [tr]


# -- er_ckpt -------------------------------------------------------------
class ErCkpt(Workload):
    name = "er_ckpt"
    n_files = 4

    def generate(self):
        return corpus.entity_dense_pages(self.root, self.seed, ER_PAGES, ER_FAMILIES)

    def fresh_root(self, tag: str) -> str:
        path = self.work / "kg" / tag
        shutil.rmtree(path, ignore_errors=True)
        path.parent.mkdir(parents=True, exist_ok=True)
        return str(path)

    def crash_buckets(self) -> list[int]:
        from unsupervised_ner_spark.pipeline.checkpoint import N_BUCKETS_DEFAULT

        rng = random.Random(f"crash:{self.seed}")
        return sorted(rng.sample(range(N_BUCKETS_DEFAULT), N_BUCKETS_DEFAULT // 2))

    # the job, as scripts/submit_kg_job.py runs it
    def per_page(self, spark, pages, root, tr=NullTracer()):
        """``pages`` is a function returning the input DataFrame, so that a
        traced run reads it inside the text step."""
        from unsupervised_ner_spark.caching import cache_scope, scoped_persist
        from unsupervised_ner_spark.pipeline import checkpoint as ckpt
        from unsupervised_ner_spark.pipeline.runner import (
            run_pipeline,
            typed_mentions_from_tagged,
        )

        with cache_scope():
            if tr.active:
                typed, s_typed, triples, s_tri = self._traced_page_stages(pages, tr)
            else:
                stages = run_pipeline(pages(), lang_filter="en")
                tagged = scoped_persist(stages["tagged"])
                typed = typed_mentions_from_tagged(tagged)
                triples, s_typed, s_tri = stages["triples"], None, None
            for stage, df, s_in in (("typed_mentions", typed, s_typed),
                                    ("page_triples", triples, s_tri)):
                rf, s_rf = tr.step("checkpoint.resume_filter", ckpt.resume_filter,
                                   df, root, stage, sink=True, base=[s_in])
                tr.step("checkpoint.write_stage", ckpt.write_stage, rf, root, stage,
                        base=[s_rf], rows_of=lambda tok: _lineage_rows(spark, root, tok))

    def _traced_page_stages(self, pages, tr):
        from pyspark.sql import functions as F
        from unsupervised_ner_spark.caching import scoped_persist
        from unsupervised_ner_spark.pipeline.runner import typed_mentions_from_tagged
        from unsupervised_ner_spark.pipeline.tagging import tag_sentences
        from unsupervised_ner_spark.pipeline.text import pages_to_sentences
        from unsupervised_ner_spark.pipeline.triples import tagged_to_triples

        sents, s_text = tr.step("text", lambda: pages_to_sentences(
            pages().filter(F.col("lang") == "en")), sink=True)
        tagged, s_tag = tr.step(
            "tagging", lambda: scoped_persist(tag_sentences(sents, detail=False)),
            sink=True, base=[s_text])
        typed, s_typed = tr.step("runner.typed", typed_mentions_from_tagged, tagged, sink=True)
        triples, s_tri = tr.step("triples", tagged_to_triples, tagged, sink=True)
        return typed, s_typed, triples, s_tri

    def global_stages(self, spark, root, tr=NullTracer()):
        from unsupervised_ner_spark.caching import cache_scope, scoped_persist
        from unsupervised_ner_spark.pipeline import checkpoint as ckpt
        from unsupervised_ner_spark.pipeline import er

        with cache_scope():
            typed_all, s_sr = tr.step(
                "checkpoint.stage_read", ckpt.stage_read, spark, root, "typed_mentions",
                sink=lambda df: df.select(*OCC_COLS))
            triples_all, _ = tr.step(
                "checkpoint.stage_read",
                lambda: scoped_persist(ckpt.stage_read(spark, root, "page_triples")),
                sink=True)
            occ, s_occ = tr.step(
                "er.occurrences", lambda: er.entity_occurrences(typed_all.select(*OCC_COLS)),
                sink=True, base=[s_sr])
            probes = []
            if tr.active:
                with cache_scope():  # released, so resolve_entities cannot reuse them
                    probes = self._er_probes(occ, s_occ, tr)
            (entities, membership), _ = tr.step(
                "er.resolve", er.resolve_entities, occ, sink=lambda r: r[1],
                base=[s_occ], minus_self=probes)

            def write_outputs():
                canon = er.canonicalize_triples(triples_all, membership)
                entities.write.mode("overwrite").parquet(f"{root}/entities")
                canon.write.mode("overwrite").parquet(f"{root}/canonical_triples")

            tr.step("er.canonicalize", write_outputs, rows_of=lambda _: spark.read.parquet(
                f"{root}/canonical_triples").count())

    def _er_probes(self, occ, s_occ, tr):
        """The components resolve_entities composes, each materialised on
        its own so its share of the resolve call can be attributed."""
        from unsupervised_ner_spark.caching import scoped_persist
        from unsupervised_ner_spark.pipeline import er

        nodes, s_ex = tr.step("er.exact", lambda: scoped_persist(er.exact_canonical(occ)),
                              sink=True, base=[s_occ])
        edges, s_fz = tr.step("er.fuzzy", lambda: scoped_persist(er.fuzzy_edges(nodes)),
                              sink=True)
        (_labels, rounds), s_cc = tr.step(
            "er.cc", er.connected_components_star, nodes.select("node_id"), edges, 20,
            sink=lambda r: r[0])
        s_cc.extra["rounds"] = rounds
        return [s_ex, s_fz, s_cc]

    def uninterrupted(self, spark, tag: str, tr=NullTracer()) -> tuple[float, str]:
        root = self.fresh_root(tag)
        t0 = time.perf_counter()
        self.per_page(spark, lambda: self.pages_df(spark), root, tr)
        self.global_stages(spark, root, tr)
        return time.perf_counter() - t0, root

    def crash(self, spark, root: str) -> None:
        """First attempt over a seeded half of the page buckets: commits
        them, writes the global tables over what it committed, and dies
        leaving data files of a write whose lineage commit never landed."""
        from pyspark.sql import functions as F
        from unsupervised_ner_spark.pipeline import checkpoint as ckpt

        self.per_page(spark, lambda: ckpt.with_bucket(self.pages_df(spark))
                      .filter(F.col("pbucket").isin(self.crash_buckets())).drop("pbucket"),
                      root)
        self.global_stages(spark, root)
        orphan = spark.read.parquet(f"{root}/typed_mentions").drop("wtoken").limit(50)
        orphan.withColumn("wtoken", F.lit("orphan")).write.mode("append") \
            .partitionBy("pbucket", "wtoken").parquet(f"{root}/typed_mentions")

    def resume(self, spark, root: str, tr=NullTracer()) -> float:
        """Resume attempt over the full input, as ``submit_kg_job --resume``.
        Only its page filter is traced: the stages after it are the same
        calls the uninterrupted run traces."""
        from pyspark.sql import functions as F
        from unsupervised_ner_spark.pipeline import checkpoint as ckpt

        t0 = time.perf_counter()

        def todo():
            done = ckpt.completed_buckets(spark, root, "typed_mentions").join(
                ckpt.completed_buckets(spark, root, "page_triples"), "pbucket")
            return (ckpt.with_bucket(self.pages_df(spark))
                    .join(F.broadcast(done), "pbucket", "left_anti").drop("pbucket"))

        # the workload's own page filter, not checkpoint.resume_filter: it is
        # reported only through checkpoint.resume_skip_share
        pages, s_todo = tr.step("resume.page_filter", todo, sink=True)
        if s_todo is not None:
            s_todo.extra["resume_pages"] = s_todo.rows
        self.per_page(spark, lambda: pages, root)
        self.global_stages(spark, root)
        return time.perf_counter() - t0

    def check_root(self, spark, root: str, label: str) -> None:
        """Exactly-once: the committed tables equal the expected ones. One
        Spark job digests all four tables."""
        from functools import reduce

        from pyspark.sql import functions as F
        from unsupervised_ner_spark.pipeline import checkpoint as ckpt

        tables = {
            "typed_mentions": (ckpt.stage_read(spark, root, "typed_mentions"),
                               oracle.TYPED_COLS),
            "triples": (ckpt.stage_read(spark, root, "page_triples"), oracle.TRIPLE_COLS),
            "entities": (spark.read.parquet(f"{root}/entities"), oracle.ENTITY_COLS),
            "canonical_triples": (spark.read.parquet(f"{root}/canonical_triples"),
                                  oracle.CANON_COLS),
        }
        parts = [df.agg(*oracle.spark_digest_exprs(cols)).withColumn("table", F.lit(name))
                 for name, (df, cols) in tables.items()]
        got = {r["table"]: (r["n"], r["crc"])
               for r in reduce(lambda a, b: a.unionByName(b), parts).collect()}
        fails = []
        for name in tables:
            _check(f"{label} {name}", got[name], self.want[name], fails)
        self.record(fails)

    def traced(self, spark, run_id: str) -> dict:
        """The crash and the resume (its page filter traced), then the
        traced uninterrupted job between two untraced ones."""
        tr_r = Tracer(spark, run_id + "-resume")
        self.crash_resume(spark, tr_r)
        walls = []
        for tag in ("untraced-1", "traced", "untraced-2"):
            tr = Tracer(spark, run_id + "-uninterrupted") if tag == "traced" else NullTracer()
            wall, root = self.uninterrupted(spark, tag, tr)
            self.check_root(spark, root, tag)
            if tag == "traced":
                tr_u, traced_s, self.traced_root = tr, wall, root
                self.written = _files_under(
                    Path(root), ("typed_mentions", "page_triples", "_lineage"))
            else:
                walls.append(wall)
        return {"tracers": [tr_u, tr_r], "scale4": [tr_u], "traced_s": traced_s,
                "walls_s": walls, "untraced_s": statistics.mean(walls)}

    def traced_scaling(self, spark, run_id: str) -> list:
        """The global stages again, over the per-page tables the traced
        uninterrupted run committed (per-page layers scale on tag_stream)."""
        tr = Tracer(spark, run_id)
        self.global_stages(spark, self.traced_root, tr)
        self.check_root(spark, self.traced_root, "local1")
        return [tr]

    def derived(self, report: dict, tracers: list) -> dict:
        out = super().derived(report, tracers)
        steps = [st for tr in tracers for st in tr.steps]
        first = {}
        for st in steps:
            first.setdefault(st.layer, st)
        n_nodes = first["er.exact"].rows
        resume_pages = next(st.extra["resume_pages"] for st in steps
                            if "resume_pages" in st.extra)
        files, nbytes = self.written
        out.update({
            "er.fuzzy.edges_per_node": first["er.fuzzy"].rows / n_nodes,
            "er.cc.rounds": first["er.cc"].extra["rounds"],
            "er.merge_ratio": self.want["entities"][0] / n_nodes,
            "checkpoint.files": files,
            "checkpoint.mb_written": nbytes / 2**20,
            "checkpoint.resume_skip_share": 1 - resume_pages / self.n_pages,
        })
        return out

    def crash_resume(self, spark, tr=NullTracer()) -> float:
        root = self.fresh_root("resumed")
        self.crash(spark, root)
        resume_s = self.resume(spark, root, tr)
        self.check_root(spark, root, "resumed")
        return resume_s

    def timed(self, spark, seconds: float) -> dict:
        """A crash and the resume, then the job uninterrupted. The crash is
        the session's first job and compiles the plans; the resume and the
        uninterrupted job run compiled plans. Each is far longer than a
        tag_stream job, so ``seconds`` bounds nothing here."""
        resume_s = self.crash_resume(spark)
        wall, root = self.uninterrupted(spark, "uninterrupted")
        self.check_root(spark, root, "uninterrupted")
        return {"docs_per_s": self.n_pages / wall, "resume_s": resume_s,
                "uninterrupted_s": wall}


def _lineage_rows(spark, root: str, token: str) -> int:
    from pyspark.sql import functions as F
    from unsupervised_ner_spark.pipeline import checkpoint as ckpt

    return ckpt.stage_metrics(spark, root).filter(F.col("wtoken") == token) \
        .agg(F.sum("row_count")).first()[0] or 0


def _files_under(root: Path, dirs) -> tuple[int, int]:
    """(data files, bytes) written under the given stage directories."""
    n = size = 0
    for d in dirs:
        for f in (root / d).rglob("*.parquet"):
            n += 1
            size += f.stat().st_size
    return n, size
