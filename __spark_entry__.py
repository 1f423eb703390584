"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator family from SURVEY.md §2 as
a (spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` provides the
DuckDB twin (built in unsupervised_ner_spark/oracle_sql.py) run side-by-side
by the driver at sf=0.01.

Each gated query is declared once, as a ``q_<name>`` function here: both
registries are derived from those functions. ``oracle_sql()`` calls
``oracle_sql.<name>()`` unless its table of exceptions says otherwise, and
raises for a query with no oracle (tests/test_registry.py pins this).

Conventions shared by both engines:
- all integer outputs are 64-bit; floats never appear in hashed columns
  (ranks/ids/counts carry the information);
- hash primitive is md5 (identical in Spark and DuckDB);
- deterministic tie-breaks everywhere (documented per query).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from unsupervised_ner_spark import oracle_sql as O  # noqa: E402
from unsupervised_ner_spark.ops import dedup, multimodal, simsearch, textstats  # noqa: E402
from unsupervised_ner_spark.pipeline.runner import run_pipeline  # noqa: E402
from unsupervised_ner_spark.pipeline.text import pages_to_sentences  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text, lang, ...) -> pages-shaped input for the KG
    chain (url:string, html:binary NULL, text, lang). The scan goes
    through the adaptive ingest spread (layout.spread_small_scan): the
    driver's single-row-group parquet otherwise pins the whole narrow
    tagging chain to one core; at production file counts the spread is a
    structural no-op."""
    from unsupervised_ner_spark.ops.layout import spread_small_scan

    d = spread_small_scan(_t(spark, sf_dir, "documents"))
    return _pages_of(d)


def _pages_of(d: DataFrame) -> DataFrame:
    return d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )


def _sentences(spark, sf_dir):
    return pages_to_sentences(_docs_as_pages(spark, sf_dir)).select(
        "url", F.col("sent_idx").cast("long").alias("sent_idx"), "sent"
    )


# ---------------------------------------------------------------------------
# KG chain queries (documents table as the page corpus)
# ---------------------------------------------------------------------------


def q_kg_sentences(spark, sf_dir):
    return _sentences(spark, sf_dir)


def q_kg_mentions(spark, sf_dir):
    """Mention spans from the narrow production tagging pass — the one
    mention detector."""
    return _typed_production(spark, sf_dir).select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("mention_idx").cast("long").alias("mention_idx"),
        F.col("begin_tok").cast("long").alias("begin_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        "surface",
    )


def q_kg_mentions_pos(spark, sf_dir):
    """POS-tag-driven mentions: the reference-faithful ingestion path
    (tokens+tags -> noun_tags runs, ensemble/utils/common.py:11,15-31) fed
    by the deterministic fixture tagger (pipeline/pos.py)."""
    from unsupervised_ner_spark.pipeline import pos

    s = _sentences(spark, sf_dir)
    m = pos.mentions_from_tagged_tokens(pos.tagged_tokens(s))
    return m.select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("mention_idx").cast("long").alias("mention_idx"),
        F.col("begin_tok").cast("long").alias("begin_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        "surface",
    )


def q_kg_masks(spark, sf_dir):
    """CS masked sentence + CI probe per production mention, rebuilt from
    the tagged row's words (no join back to the sentences)."""
    from unsupervised_ner_spark.pipeline.runner import masked_mentions_from_tagged

    out = masked_mentions_from_tagged(_tagged_production(spark, sf_dir))
    return out.select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("mention_idx").cast("long").alias("mention_idx"),
        "surface",
        "masked_sent",
        "ci_probe",
    )


def q_kg_typed_mentions(spark, sf_dir):
    """Typed mentions from the narrow production tagging pass, gated
    directly against the DuckDB typing oracle."""
    typed = _typed_production(spark, sf_dir)
    return typed.select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("mention_idx").cast("long").alias("mention_idx"),
        F.col("begin_tok").cast("long").alias("begin_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        "surface",
        "pred_group",
        "prediction",
    )


def q_kg_cooccurrence_npmi(spark, sf_dir):
    """Weighted co-occurrence edges: integer NPMI sufficient statistics
    (n_pair, marginals, sentence universe) — the float score is a derived
    column (er.with_npmi), kept out of the hashed surface."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.cooccurrence_weighted_edges(typed)


def q_kg_cooccurrence(spark, sf_dir):
    """Sentence-level entity co-occurrence edges over canonical entities
    (the predicate-less KG graph product). Feeds off the narrow production
    tagging pass like the ER queries (VERDICT r04 item 2), which
    kg_typed_mentions + kg_bio_tags gate directly against the DuckDB
    typing oracle; the oracle replays normalized surfaces so it is chain-
    agnostic."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.cooccurrence_edges(typed)


def q_kg_entity_degree(spark, sf_dir):
    """Per-entity co-occurrence graph degree over the canonical entity
    edges (symmetrized aggregated edge table -> one entity-keyed agg)."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.entity_degree(er.cooccurrence_edges(typed))


def q_txt_sample_hash(spark, sf_dir):
    """Deterministic hash sample: stateless md5-prefix filter (1024/4096
    buckets), no shuffle — the reproducible-subset primitive."""
    from unsupervised_ner_spark.ops import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.hash_sample(d, keep_buckets=1024).select("doc_id", "lang")


def q_txt_sample_balanced(spark, sf_dir):
    """Exact per-language balanced downsample to the smallest stratum, in
    md5 order (deterministic, content-uncorrelated)."""
    from unsupervised_ner_spark.ops import sampling

    return sampling.balanced_sample(_t(spark, sf_dir, "documents"))


def q_txt_split_assign(spark, sf_dir):
    """Group-level train/val/test split: every doc inherits its source's
    md5-bucket split — same-source docs can never straddle splits."""
    from unsupervised_ner_spark.ops import sampling

    return sampling.split_assign(_t(spark, sf_dir, "documents"))


def q_txt_split_leakage(spark, sf_dir):
    """Near-dup leakage screen over the split: MinHash-LSH candidate pairs
    annotated with both endpoints' splits + leak flag (cross-split
    near-dups = eval contamination the group split can't block)."""
    from unsupervised_ner_spark.ops import sampling

    return sampling.split_leakage(_t(spark, sf_dir, "documents"))


def q_txt_postings(spark, sf_dir):
    """Capped inverted-index posting lists: per-term top-k docs by
    (tf DESC, doc_id ASC), hapax tail pruned by min_df."""
    from unsupervised_ner_spark.ops import textstats

    return textstats.postings_topk(_t(spark, sf_dir, "documents"))


def q_txt_curated_manifest(spark, sf_dir):
    """End-to-end curation manifest: quality -> dedup survivors -> split
    -> sqrt-mix over survivors; one audit row per input doc with a keep
    flag."""
    from unsupervised_ner_spark.ops.curation import curated_manifest

    return curated_manifest(_t(spark, sf_dir, "documents"))


def q_txt_mix_sqrt(spark, sf_dir):
    """Temperature-balanced mix sampling: per-source cap k*isqrt(n) in
    md5 order — alpha=0.5 mix flattening, exact integer arithmetic."""
    from unsupervised_ner_spark.ops import sampling

    return sampling.sqrt_mix_sample(_t(spark, sf_dir, "documents"))


def q_txt_fertility(spark, sf_dir):
    """Per-language tokenizer fertility sufficient statistics (doc/char/
    ws-token/BPE-ish-subunit integer sums)."""
    from unsupervised_ner_spark.ops import textstats

    return textstats.fertility_stats(_t(spark, sf_dir, "documents"))


def q_txt_length_hist(spark, sf_dir):
    """Histogram-sketch percentiles: bounded mergeable integer histogram
    + cumulative rank pick — the scale path of txt_length_pct."""
    from unsupervised_ner_spark.ops import textstats

    return textstats.length_hist_quantiles(_t(spark, sf_dir, "documents"))


def q_txt_bigram_lm(spark, sf_dir):
    """Bigram LM sufficient statistics: pair counts + left marginal +
    Kneser-Ney continuation counts, all integers."""
    from unsupervised_ner_spark.ops import textstats

    return textstats.bigram_lm(_t(spark, sf_dir, "documents"))


def q_txt_pack_sequences(spark, sf_dir):
    """Concat-and-cut sequence packing: per-doc token offset in a
    deterministic md5 order via a two-level distributed prefix sum
    (per-bucket cumsum + broadcast bucket offsets — never one global
    single-partition window)."""
    from unsupervised_ner_spark.ops.packing import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"))


def q_txt_mix_plan(spark, sf_dir):
    """Token-budget mix planner: per-source isqrt(n_tokens) weights,
    integer token allocation + milli-epoch repeat factor."""
    from unsupervised_ner_spark.ops import sampling

    return sampling.mix_token_plan(_t(spark, sf_dir, "documents"))


def q_txt_chunks(spark, sf_dir):
    """Overlapping token-window chunking (RAG prep): pure narrow
    transform, zero exchanges — chunk windows every stride tokens with
    the tail clipped."""
    from unsupervised_ner_spark.ops.packing import chunk_tokens

    return chunk_tokens(_t(spark, sf_dir, "documents"))


def q_txt_pack_manifest(spark, sf_dir):
    """Writer-side packing manifest: one row per (pack, doc) overlap with
    in-pack/in-doc slice arithmetic — what a sequence-writer job
    consumes."""
    from unsupervised_ner_spark.ops.packing import pack_manifest, pack_sequences

    return pack_manifest(pack_sequences(_t(spark, sf_dir, "documents")))


def q_txt_bigram_novelty(spark, sf_dir):
    """Rare-bigram novelty: per-doc count of bigram instances whose
    corpus pair count <= 1 — the integer-exact n-gram-LM quality proxy."""
    from unsupervised_ner_spark.ops import textstats

    return textstats.bigram_novelty(_t(spark, sf_dir, "documents"))


DEDUP_INGEST_SPLIT = 2048  # md5 buckets below this = "existing corpus"


def q_dedup_incremental(spark, sf_dir):
    """Batch-ingest near-dup screen: the md5-bucket lower half plays the
    existing corpus (its banded-signature table = the persisted dedup
    index), the upper half the incoming batch; each batch doc gets
    dup_of_corpus / dup_in_batch / admit flags."""
    from unsupervised_ner_spark.ops import dedup, sampling

    docs = _t(spark, sf_dir, "documents")
    b = sampling._bucket_col(F.col("doc_id"))
    thr = F.lit(f"{DEDUP_INGEST_SPLIT:03x}")
    return dedup.incremental_dedup(docs.filter(b < thr), docs.filter(~(b < thr)))


LANG_MIX_MOD = 13


def q_txt_lang_mix(spark, sf_dir):
    """Mixed-language junk signal: best/second stopword-vote languages +
    integer mixed rule; a deterministic German splice on every 13th doc
    makes the mixed path fire on the monolingual corpus (oracle replays
    it)."""
    from unsupervised_ner_spark.ops import textstats

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % LANG_MIX_MOD == 0,
            F.concat(F.col("text"), F.lit(" der die das und ist von")),
        ).otherwise(F.col("text")),
    )
    return textstats.lang_mix(docs)


def q_txt_pack_stats(spark, sf_dir):
    """Packing-efficiency summary: 1-row corpus totals + straddler count
    over pack_sequences output."""
    from unsupervised_ner_spark.ops.packing import pack_sequences, pack_stats

    return pack_stats(pack_sequences(_t(spark, sf_dir, "documents")))


def q_kg_predicate_pairs(spark, sf_dir):
    """Schema induction: normalized-predicate pairs sharing a subject
    entity (distinct-first, subject-co-partitioned self-join)."""
    from unsupervised_ner_spark.pipeline import er

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return er.predicate_pairs(stages["triples"])


SNAPDIFF_OLD, SNAPDIFF_NEW_FROM, SNAPDIFF_MUT = 3072, 1024, 17


def q_dedup_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff: md5-bucket lower 3/4 plays snapshot A, upper
    3/4 snapshot B (overlap = common docs), every 17th doc carries a
    deterministic content edit on the B side — per doc_id one of
    added/removed/changed/unchanged from normalized fingerprints."""
    from unsupervised_ner_spark.ops import dedup, sampling

    docs = _t(spark, sf_dir, "documents")
    b = sampling._bucket_col(F.col("doc_id"))
    old = docs.filter(b < F.lit(f"{SNAPDIFF_OLD:03x}"))
    new = docs.filter(~(b < F.lit(f"{SNAPDIFF_NEW_FROM:03x}"))).withColumn(
        "text",
        F.when(
            F.col("doc_id") % SNAPDIFF_MUT == 0,
            F.concat(F.col("text"), F.lit(" rev2")),
        ).otherwise(F.col("text")),
    )
    return dedup.snapshot_diff(old, new)


def q_kg_bio_tags(spark, sf_dir):
    """Production-path token tags (Arrow-batched kernel UDF); oracle is the
    independent relational SQL replication — the strongest correctness gate
    in this suite."""
    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    tags = stages["tags"]
    return tags.select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("token_idx").cast("long").alias("token_idx"),
        "word",
        "tag",
    )


def q_kg_triples(spark, sf_dir):
    """Production-path triples vs independent relational SQL oracle."""
    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return stages["triples"].select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        "subj",
        "subj_type",
        "pred",
        "pred_norm",
        "obj",
        "obj_type",
    )


def q_kg_predicates(spark, sf_dir):
    """KG-schema induction: top normalized predicates per entity-type pair
    (one aggregate + a window over the bounded histogram)."""
    from unsupervised_ner_spark.pipeline.triples import predicate_histogram

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return predicate_histogram(stages["triples"])


# ---------------------------------------------------------------------------
# text analysis / dedup / similarity / multimodal
# ---------------------------------------------------------------------------


HEARST_MOD = 3
HEARST_HYPO = ["Imatinib", "Asbestos", "Paris", "Mozart", "Telsa", "Aspirin", "Foxp2"]
HEARST_HYPER = ["drug", "mineral", "city", "element", "company"]
HEARST_HYPER2 = ["substance", "thing", "place"]


def _hearst_docs(spark, sf_dir):
    """Documents with the deterministic Hearst splice: the word-salad
    corpus contains no natural " is a " text, so every HEARST_MOD-th doc
    gets three doc_id-derived sentences (the txt_lang_mix precedent; the
    oracle replays them byte-identically): "<Hypo> is a <hyper>",
    "<hyper>s such as <Hypo> are common", and the CHAINED "<Hyper> is a
    <hyper2>" — the third makes real 2-hop closure paths exist."""

    def pick(terms, col):
        return F.element_at(
            F.array(*[F.lit(t) for t in terms]),
            (col % len(terms) + 1).cast("int"),
        )

    def art(noun):
        return F.when(
            F.substring(noun, 1, 1).isin("a", "e", "i", "o", "u"), F.lit("an")
        ).otherwise(F.lit("a"))

    docs = _t(spark, sf_dir, "documents")
    hypo = pick(HEARST_HYPO, F.col("doc_id"))
    hyper = pick(HEARST_HYPER, F.col("doc_id"))
    hyper2 = pick(HEARST_HYPER2, F.col("doc_id"))
    hyper_cap = F.concat(
        F.upper(F.substring(hyper, 1, 1)), F.substring(hyper, 2, 100)
    )
    splice = F.concat(
        F.lit("\n"), hypo, F.lit(" is "), art(hyper), F.lit(" "), hyper,
        F.lit("\n"), hyper, F.lit("s such as "), hypo, F.lit(" are common"),
        F.lit("\n"), hyper_cap, F.lit(" is "), art(hyper2), F.lit(" "), hyper2,
    )
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % HEARST_MOD == 0, F.concat("text", splice)
        ).otherwise(F.col("text")),
    )


def _hearst_sentences(spark, sf_dir):
    """Sentence table over the Hearst-spliced documents."""
    return pages_to_sentences(_pages_of(_hearst_docs(spark, sf_dir))).select(
        "url", F.col("sent_idx").cast("long").alias("sent_idx"), "sent"
    )


RUNS_MOD = 37
RUNS_HALF_RES = 1
RUNS_VARIANTS = 7
RUNS_HALF_TOKS = 8
RUNS_BLOCKS = [
    " ".join(f"seg{v}tok{i}" for i in range(13)) for v in range(RUNS_VARIANTS)
]


def _runs_docs(spark, sf_dir):
    """Documents with the deterministic duplicate-passage splice: the
    word-salad corpus has no long repeated passages, so every
    RUNS_MOD-th doc gets a 13-token variant block (variant = doc_id %
    RUNS_VARIANTS; 37 coprime with 7, so all variants recur) and docs on
    residue RUNS_HALF_RES get the block's first RUNS_HALF_TOKS tokens —
    full-full pairs share 13-token runs, full-half pairs 8-token runs,
    exercising maximal coalescing at two lengths. The oracle replays the
    splice byte-identically from the same RUNS_BLOCKS constants."""
    docs = _t(spark, sf_dir, "documents")
    vid = (F.col("doc_id") % RUNS_VARIANTS + 1).cast("int")
    full = F.element_at(F.array(*[F.lit(b) for b in RUNS_BLOCKS]), vid)
    half = F.element_at(
        F.array(
            *[F.lit(" ".join(b.split()[:RUNS_HALF_TOKS])) for b in RUNS_BLOCKS]
        ),
        vid,
    )
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % RUNS_MOD == 0, F.concat("text", F.lit("\n"), full)
        )
        .when(
            F.col("doc_id") % RUNS_MOD == RUNS_HALF_RES,
            F.concat("text", F.lit("\n"), half),
        )
        .otherwise(F.col("text")),
    )


def q_dedup_substring_runs(spark, sf_dir):
    """Exact-substring duplicate runs (Lee et al. 2022 shape): maximal
    shared token runs between doc pairs via k-gram anchors + diagonal
    gaps-and-islands coalescing, over the run-spliced documents."""
    from unsupervised_ner_spark.ops.dedup import shared_substring_runs

    return shared_substring_runs(_runs_docs(spark, sf_dir))


def q_dedup_apply_cuts(spark, sf_dir):
    """Exact-substring dedup APPLY step (dedup.apply_substring_cuts):
    doc_b-side cut intervals merged per doc, covered token positions
    dropped, kept-text md5 + accounting — the corpus rewrite."""
    from unsupervised_ner_spark.ops.dedup import apply_substring_cuts

    return apply_substring_cuts(_runs_docs(spark, sf_dir))


def q_txt_readability(spark, sf_dir):
    """Flesch-Kincaid readability sufficient statistics + integer-division
    FK grade x100 (textstats.readability) — the curation signal the
    length/punct quality gates do not carry."""
    return textstats.readability(_t(spark, sf_dir, "documents"))


def q_kg_type_inference(spark, sf_dir):
    """Distant-supervision type inference for never-typed surfaces
    (er.type_inference): OTHER-only mentions receive the majority type of
    the typed entities they share sentences with — the KG-completion step
    over the production tagging pass."""
    from unsupervised_ner_spark.pipeline import er

    return er.type_inference(_typed_production(spark, sf_dir))


def q_kg_hearst_hypernyms(spark, sf_dir):
    """Hearst-pattern taxonomy induction (is-a / such-as hypernym edges)
    over the spliced sentence table — the gate proves real pattern
    extraction + normalization + aggregation, not an empty pass."""
    from unsupervised_ner_spark.pipeline.taxonomy import hearst_hypernyms

    return hearst_hypernyms(_hearst_sentences(spark, sf_dir))


def q_kg_taxonomy_2hop(spark, sf_dir):
    """2-hop is-a closure over the Hearst edges (hypo -> mid -> hyper
    transitivity candidates with least-support path weight)."""
    from unsupervised_ner_spark.pipeline.taxonomy import (
        hearst_hypernyms,
        taxonomy_closure_2hop,
    )

    return taxonomy_closure_2hop(hearst_hypernyms(_hearst_sentences(spark, sf_dir)))


def q_kg_taxonomy_closure(spark, sf_dir):
    """Full min-hop is-a transitive closure (cap 8) over the Hearst edges
    via iterative min-plus doubling — ceil(log2(8)) = 3 self-join rounds
    instead of 7 BFS expansions; the oracle replays it as a depth-capped
    RECURSIVE CTE with min(hops). The gated Hearst graph is 2 levels deep
    (splice chains hypo -> hyper -> hyper2); depth-8 behavior incl.
    cycles is property-tested in tests/test_taxonomy_closure.py."""
    from unsupervised_ner_spark.pipeline.taxonomy import (
        hearst_hypernyms,
        taxonomy_closure,
    )

    return taxonomy_closure(
        hearst_hypernyms(_hearst_sentences(spark, sf_dir)), max_hops=8
    )


def q_kg_lca(spark, sf_dir):
    """Taxonomy lowest common ancestor (taxonomy.taxonomy_lca): per pair
    of co-subsumed concepts the ancestor minimizing (max hops, sum hops,
    key) over the capped is-a closure, with the shared adaptive
    per-ancestor descendant cap (never binding at the gate scales —
    measured; the cap branch is unit-tested). Coverage measured: both
    the symmetric direct-parent case (hops 1,1) and the asymmetric
    deep-chain case (hops 1,2 / 2,1) fire, with mid-level AND root
    concepts appearing as winners."""
    from unsupervised_ner_spark.pipeline.taxonomy import (
        hearst_hypernyms,
        taxonomy_closure,
        taxonomy_lca,
    )

    return taxonomy_lca(
        taxonomy_closure(
            hearst_hypernyms(_hearst_sentences(spark, sf_dir)), max_hops=8
        )
    )


def q_kg_transitive_reduction(spark, sf_dir):
    """Transitive-reduction flags over the collapsed Hearst edges: an edge
    is redundant when the capped closure contains a 2-segment witness
    path around it (Aho-Garey-Ullman reduction relative to the hop-8
    closure) — the minimal taxonomy a curator publishes."""
    from unsupervised_ner_spark.pipeline.taxonomy import (
        hearst_hypernyms,
        transitive_reduction,
    )

    return transitive_reduction(
        hearst_hypernyms(_hearst_sentences(spark, sf_dir)), max_hops=8
    )


def q_kg_assortativity(spark, sf_dir):
    """Degree-assortativity sufficient statistics (Newman r numerator /
    denominator factors as exact BIGINTs) of the entity co-occurrence
    graph — the hub-to-leaf structural health check."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.degree_assortativity(er.cooccurrence_edges(typed))


def q_kg_dangling_refs(spark, sf_dir):
    """Referential integrity: typed triple objects never seen as a
    subject (dangling KG nodes with inbound support counts) — two
    entity-granularity aggregates and one left-anti join."""
    from unsupervised_ner_spark.pipeline.triples import dangling_objects

    pages = _docs_as_pages(spark, sf_dir)
    return dangling_objects(
        run_pipeline(pages, lang_filter=None)["triples"]
    )


def q_rel_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS lattice over lineitem — ((flag, status),
    (flag), ()) with grouping_id, completing the cube/rollup family with
    the user-chosen-subtotal surface (one pass, no union of aggregates)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(qty).cast("long").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "gid", "n_rows", "sum_qty",
        )
    )


def q_dedup_lsh_stats(spark, sf_dir):
    """LSH blocking dashboard: banded-index bucket-size histogram with the
    over-cap flag (gated with an explicit max_bucket=2 so the flag's true
    branch fires on this mostly-unique corpus; the production default is
    the adaptive cube-root cap)."""
    from unsupervised_ner_spark.ops.dedup import lsh_bucket_stats

    return lsh_bucket_stats(_t(spark, sf_dir, "documents"), max_bucket=2)


APPOS_MOD = 4
APPOS_INST = ["Tamoxifen", "Berlin", "Einstein", "Toyota", "Ibuprofen"]
APPOS_CLS = ["medicine", "city", "physicist", "automaker"]


def q_kg_appositive_types(spark, sf_dir):
    """Appositive instance-typing ("<Entity>, a <noun>,") over the
    sentence table — the third lexico-syntactic typing pattern beside
    Hearst isa/such_as. The word-salad corpus contains no natural
    appositive text, so every APPOS_MOD-th doc gets a deterministic
    doc_id-derived splice (the Hearst-gate precedent; the oracle replays
    it byte-identically)."""
    from unsupervised_ner_spark.pipeline.taxonomy import appositive_types

    docs = _t(spark, sf_dir, "documents")
    inst = F.element_at(
        F.array(*[F.lit(t) for t in APPOS_INST]),
        (F.col("doc_id") % len(APPOS_INST) + 1).cast("int"),
    )
    cls = F.element_at(
        F.array(*[F.lit(t) for t in APPOS_CLS]),
        (F.col("doc_id") % len(APPOS_CLS) + 1).cast("int"),
    )
    art = F.when(
        F.substring(cls, 1, 1).isin("a", "e", "i", "o", "u"), F.lit("an")
    ).otherwise(F.lit("a"))
    splice = F.concat(
        F.lit("\n"), inst, F.lit(", "), art, F.lit(" "), cls,
        F.lit(", was mentioned"),
    )
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % APPOS_MOD == 0, F.concat("text", splice)
        ).otherwise(F.col("text")),
    )
    sents = pages_to_sentences(_pages_of(docs)).select(
        "url", F.col("sent_idx").cast("long").alias("sent_idx"), "sent"
    )
    return appositive_types(sents)


def q_kg_pred_functionality(spark, sf_dir):
    """Per-predicate functionality profile (single- vs multi-valued
    relations) over the production triple chain."""
    from unsupervised_ner_spark.pipeline.triples import predicate_functionality

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return predicate_functionality(stages["triples"])


def q_kg_conflicts(spark, sf_dir):
    """Conflicting-fact candidates: multi-object subjects under otherwise
    functional predicates, over the production triples UNION the
    deterministic conflict splice (see _conflict_splice_triples)."""
    from unsupervised_ner_spark.pipeline.triples import functional_conflicts

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    trip = stages["triples"].select("subj", "pred_norm", "obj")
    return functional_conflicts(trip.unionByName(_conflict_splice_triples(spark, sf_dir)))


def q_txt_bpe_pairs(spark, sf_dir):
    """First-iteration BPE merge statistics (tokenizer-training prep) over
    the corpus vocabulary."""
    from unsupervised_ner_spark.ops.textstats import bpe_pair_stats

    return bpe_pair_stats(_t(spark, sf_dir, "documents"))


def q_txt_hashing_tf(spark, sf_dir):
    """Feature-hashing sparse TF rows (HashingTF) per document — the
    vocabulary-free classifier input."""
    from unsupervised_ner_spark.ops.textstats import hashing_tf

    return hashing_tf(_t(spark, sf_dir, "documents"))


def q_txt_sent_dedup(spark, sf_dir):
    """Sentence-level exact-dedup index (C4-style boilerplate table) over
    the Hearst-spliced sentence table — the splice is what guarantees
    real cross-document duplicate sentences exist in the word-salad
    corpus, so the gate proves counting + keep-first provenance on true
    duplicates, not an empty pass."""
    from unsupervised_ner_spark.ops.dedup import sentence_dedup

    return sentence_dedup(_hearst_sentences(spark, sf_dir))


def _conflict_splice_triples(spark, sf_dir, with_doc_id=False):
    """Deterministic doc_id-derived triple splice for the conflict gate:
    'capital_of' is single-valued for every even subject except s0, which
    collects one object per 24-doc block (the violation); 'near' is
    multi-valued for every odd subject (not functional — excluded). The
    word-salad corpus yields ZERO conflicting triples at sf0.001/0.01
    (measured), so this is the Hearst TEXT splice lifted to the triple
    level: the operator still runs over the real production triples too,
    and the oracle replays the identical arithmetic. ``with_doc_id``
    keeps the source doc_id (the temporal gate derives observation days
    from it)."""
    docs = _t(spark, sf_dir, "documents")
    d1 = F.col("doc_id") % 24
    d2 = F.expr("doc_id DIV 24") % 5
    even = F.col("doc_id") % 2 == 0
    cols = [
        F.concat(F.lit("s"), d1.cast("string")).alias("subj"),
        F.when(even, F.lit("capital_of")).otherwise(F.lit("near")).alias("pred_norm"),
        F.when(
            even,
            F.when(d1 == 0, F.concat(F.lit("v"), d2.cast("string"))).otherwise(
                F.concat(F.lit("o"), d1.cast("string"))
            ),
        )
        .otherwise(F.concat(F.lit("w"), d2.cast("string")))
        .alias("obj"),
    ]
    if with_doc_id:
        cols.append(F.col("doc_id"))
    return docs.select(*cols)


def _recip_splice_triples(spark, sf_dir):
    """Deterministic doc_id-derived edge splice for the reciprocity gate:
    node a = (doc_id DIV 3) %% 12, offsets {+1, +11, +4} by doc_id %% 3
    with predicates {knows, likes, near} — +1/+11 are mutual inverses
    (12 reciprocal unordered pairs, asymmetric predicate lists), +4's
    inverse +8 is never generated (12 one-way edges, excluded). Same
    rationale as _conflict_splice_triples."""
    docs = _t(spark, sf_dir, "documents")
    a = F.expr("doc_id DIV 3") % 12
    m = F.col("doc_id") % 3
    off = F.element_at(F.array(F.lit(1), F.lit(11), F.lit(4)), (m + 1).cast("int"))
    pred = F.element_at(
        F.array(F.lit("knows"), F.lit("likes"), F.lit("near")), (m + 1).cast("int")
    )
    node = lambda c: F.concat(F.lit("e"), F.lpad(c.cast("string"), 2, "0"))
    return docs.select(
        node(a).alias("subj"),
        pred.alias("pred_norm"),
        node((a + off) % 12).alias("obj"),
    )


def _rule_splice_triples(spark, sf_dir):
    """Deterministic doc_id-derived edge splice for the rule-mining gates
    (the _recip_splice_triples rationale — natural word-salad triples
    carry no co-predicated pairs, measured 0 fwd/inv rule pairs): node
    a = (doc_id DIV 5) %% 12, branch m = doc_id %% 5 emits
    knows: a->a+1, trusts: a->a+1 (the SAME pair — the fwd-rule signal),
    likes: a->a+11 (knows' inverse), reaches: a->a+2 (the head closing
    knows/trusts 2-chains), near: a->a+4 (one-way noise, no rule)."""
    docs = _t(spark, sf_dir, "documents")
    a = F.expr("doc_id DIV 5") % 12
    m = (F.col("doc_id") % 5 + 1).cast("int")
    off = F.element_at(
        F.array(F.lit(1), F.lit(1), F.lit(11), F.lit(2), F.lit(4)), m
    )
    pred = F.element_at(
        F.array(
            F.lit("knows"), F.lit("trusts"), F.lit("likes"),
            F.lit("reaches"), F.lit("near"),
        ),
        m,
    )
    node = lambda c: F.concat(F.lit("e"), F.lpad(c.cast("string"), 2, "0"))
    return docs.select(
        node(a).alias("subj"),
        pred.alias("pred_norm"),
        node((a + off) % 12).alias("obj"),
    )


def q_kg_rule_mining(spark, sf_dir):
    """AMIE-style 2-atom Horn rules (triples.mine_rules) over production
    triples UNION the rule splice: p(x,y)=>q(x,y) and p(x,y)=>q(y,x)
    with integer-ppm confidence — the relation-implication schema
    induction step."""
    from unsupervised_ner_spark.pipeline.triples import mine_rules

    pages = _docs_as_pages(spark, sf_dir)
    trip = run_pipeline(pages, lang_filter=None)["triples"].select(
        "subj", "pred_norm", "obj"
    )
    return mine_rules(trip.unionByName(_rule_splice_triples(spark, sf_dir)))


def q_kg_chain_rules(spark, sf_dir):
    """Chain rules p1(x,z)^p2(z,y)=>q(x,y) (triples.mine_chain_rules,
    AMIE body-2 / PRA path features) over production triples UNION the
    rule splice; mids degree-capped with the shared icbrt clamp."""
    from unsupervised_ner_spark.pipeline.triples import mine_chain_rules

    pages = _docs_as_pages(spark, sf_dir)
    trip = run_pipeline(pages, lang_filter=None)["triples"].select(
        "subj", "pred_norm", "obj"
    )
    return mine_chain_rules(
        trip.unionByName(_rule_splice_triples(spark, sf_dir))
    )


def q_kg_rule_pca(spark, sf_dir):
    """AMIE rules with BOTH confidence estimators
    (triples.mine_rules_pca): standard + PCA confidence under partial
    completeness — the estimator AMIE actually ranks by; over production
    triples UNION the rule splice (the kg_rule_mining input) UNION a
    PCA-divergence splice: every 7th doc adds a knows-ONLY subject
    (x<did%4> knows y<did%4>) whose head-pred facts are absent, so the
    PCA denominator provably shrinks below n_p (pca_conf > conf fires —
    without it the dense rule splice gives every subject every
    predicate and the two estimators coincide)."""
    from unsupervised_ner_spark.pipeline.triples import mine_rules_pca

    pages = _docs_as_pages(spark, sf_dir)
    trip = run_pipeline(pages, lang_filter=None)["triples"].select(
        "subj", "pred_norm", "obj"
    )
    docs = _t(spark, sf_dir, "documents")
    pca_splice = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(F.lit("x"), (F.col("doc_id") % 4).cast("string"))
        .alias("subj"),
        F.lit("knows").alias("pred_norm"),
        F.concat(F.lit("y"), (F.col("doc_id") % 4).cast("string"))
        .alias("obj"),
    )
    return mine_rules_pca(
        trip.unionByName(_rule_splice_triples(spark, sf_dir))
        .unionByName(pca_splice)
    )


def q_rel_partition_skew(spark, sf_dir):
    """Shuffle-partition skew simulator (layout.partition_skew): rows /
    distinct keys / largest single key per simulated partition under the
    portable md5 hash — hot-key skew vs hash imbalance separated."""
    from unsupervised_ner_spark.ops.layout import partition_skew

    return partition_skew(_t(spark, sf_dir, "lineitem"), "l_suppkey")


def q_kg_triple_dataset(spark, sf_dir):
    """Labeled triple-classification dataset (kgtrain.triple_dataset):
    distinct positives + type-constrained tail-corruption negatives
    (false-negative draws excluded) with a head-level hash split — a fact
    and all its corruptions share a split by construction."""
    from unsupervised_ner_spark.ops.kgtrain import triple_dataset

    pages = _docs_as_pages(spark, sf_dir)
    trip = run_pipeline(pages, lang_filter=None)["triples"]
    return triple_dataset(trip, k=2)


def q_er_phonetic_keys(spark, sf_dir):
    """Phonetic blocking keys (er.phonetic_blocking_keys) over the
    distinct normalized entity surfaces — the misspelling/translitera-
    tion candidate channel beside exact and shingle-LSH blocking; bucket
    sizes are the blocking-cost dashboard."""
    from unsupervised_ner_spark.pipeline import er

    occ = _occurrences_production(spark, sf_dir)
    return er.phonetic_blocking_keys(occ)


def q_er_phonetic_pairs(spark, sf_dir):
    """Phonetic ER candidate pairs (er.phonetic_pairs): capped shared-key
    buckets + exact Levenshtein <= 2 verify — the generate-then-verify
    blocking shape on the misspelling channel. The surface vocabulary is
    UNIONed with a deterministic misspelling splice (first non-lead 'a'
    -> 'e' on surfaces >= 5 chars): vowels are soundex-deleted by the
    key, so each variant shares its source's pkey at edit distance 1 —
    the Hearst-gate precedent, guaranteeing the gate exercises real
    bucket-join + Levenshtein verify rather than an empty pass (the
    corpus's real typed surfaces are too clean to collide at test SF)."""
    from unsupervised_ner_spark.pipeline import er

    occ = _occurrences_production(spark, sf_dir)
    surf = occ.select("norm_surface")
    variants = surf.filter(
        (F.length("norm_surface") >= 5)
        & F.col("norm_surface").rlike("^.[^a]*a")
    ).select(
        F.regexp_replace("norm_surface", "^(.[^a]*)a", "$1e").alias(
            "norm_surface"
        )
    )
    return er.phonetic_pairs(surf.unionByName(variants))


def q_mm_voice_segments(spark, sf_dir):
    """Voice-activity segments (multimodal.chunk_energy + voice_segments):
    per-chunk byte-energy kernel (Arrow-batched, decode-stub seam) ->
    integer threshold -> gaps-and-islands runs per clip; the silence-trim
    pass before transcription."""
    docs = _t(spark, sf_dir, "documents")
    en = multimodal.chunk_energy(multimodal.synth_media(docs))
    return multimodal.voice_segments(en)


def q_kg_pronoun_coref(spark, sf_dir):
    """Pronominal coreference (coref.resolve_pronouns): nearest preceding
    type-compatible typed mention within 3 sentences. The pronoun table
    is a deterministic splice (doc_id-derived pronoun at sent 1 and 3 of
    every doc — the corpus itself has no pronouns), so the gate exercises
    back distances 1 and 3 against the REAL production typed mentions;
    'he'/'she' rows (doc_id % 4 in {0,1}) prove the type-agreement
    negative — this corpus has no PERSON mentions, so both engines must
    resolve them to NOTHING — while 'it'/'they' rows resolve positively."""
    from unsupervised_ner_spark.pipeline import coref

    typed = _typed_production(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    prons = (
        d.select(
            F.col("doc_id").cast("string").alias("url"),
            F.col("doc_id").alias("did"),
        )
        .withColumn("sent_idx", F.explode(F.array(F.lit(1), F.lit(3))))
        .select(
            "url",
            F.col("sent_idx").cast("long").alias("sent_idx"),
            F.lit(0).cast("long").alias("tok_idx"),
            F.element_at(
                F.array(F.lit("he"), F.lit("she"), F.lit("it"), F.lit("they")),
                (F.col("did") % 4 + 1).cast("int"),
            ).alias("pronoun"),
        )
    )
    return coref.resolve_pronouns(
        prons,
        typed.select("url", "sent_idx", "mention_idx", "surface", "pred_group"),
    )


def q_kg_dates(spark, sf_dir):
    """Temporal-expression extraction + ISO normalization
    (webtext.extract_dates) over a deterministic date splice (encoding-
    splice precedent): doc_id-varying ISO dates on every 3rd doc, textual
    'Month D, YYYY' on every 4th — every month and both pattern families
    appear in the gate; docs hit by both splices prove per-family
    extraction is independent."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    y = (F.lit(1900) + did % 120).cast("string")
    mo = (F.lit(1) + did % 12).cast("int")
    dy = (F.lit(1) + did % 28).cast("string")
    months = F.array(*[F.lit(m) for m in webtext.MONTHS])
    dirty = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" released on "), y, F.lit("-"),
                F.lpad(mo.cast("string"), 2, "0"), F.lit("-"),
                F.lpad(dy, 2, "0"), F.lit(" ."),
            ),
        ).otherwise(""),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" announced on "), F.element_at(months, mo),
                F.lit(" "), dy, F.lit(", "), y, F.lit(" ."),
            ),
        ).otherwise(""),
    )
    return webtext.extract_dates(d.select("doc_id", dirty.alias("text")))


def q_txt_html_tables(spark, sf_dir):
    """HTML table / infobox KV extraction (webtext.extract_tables) over a
    deterministic table splice: every doc gets an infobox (one value
    wrapped in <b> to prove tag-stripping, plus a single-cell spanner row
    proving the n_cells >= 2 drop), every 2nd doc a second bare table
    (proving per-table indexing)."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ids = did.cast("string")
    tbl1 = F.concat(
        F.lit('<table class="infobox"><tr><th>Name</th><td><b>Doc '),
        ids,
        F.lit("</b></td></tr><tr><th>Lang</th><td>"),
        F.col("lang"),
        F.lit("</td></tr><tr><td>orphan</td></tr></table>"),
    )
    tbl2 = F.concat(
        F.lit("<table><tr><td>k"), (did % 7).cast("string"),
        F.lit("</td><td>v"), (did % 5).cast("string"),
        F.lit("</td></tr></table>"),
    )
    dirty = F.concat(
        F.col("text"), tbl1, F.when(did % 2 == 0, tbl2).otherwise("")
    )
    return webtext.extract_tables(d.select("doc_id", dirty.alias("text")))


def q_kg_grounded_facts(spark, sf_dir):
    """Date-grounded facts: the production triples joined to each doc's
    temporal anchor (MIN extracted ISO date + date count from kg_dates) —
    the timestamping consumer the extraction feeds (facts inherit their
    document's date; the SCD2/as-of operators take it from here). Doc-
    keyed shuffle join of two doc-bounded tables."""
    trip = q_kg_triples(spark, sf_dir)
    dates = q_kg_dates(spark, sf_dir)
    doc_date = dates.groupBy("doc_id").agg(
        F.min("date_iso").alias("doc_date"),
        F.count("*").cast("long").alias("n_dates"),
    )
    return trip.join(
        doc_date, trip.url == doc_date.doc_id.cast("string")
    ).select(
        "url", "sent_idx", "subj", "subj_type", "pred_norm",
        "obj", "obj_type", "doc_date", "n_dates",
    )


def q_kg_fact_certainty(spark, sf_dir):
    """Assertion-status classification (triples.fact_certainty) over the
    production triples UNION a deterministic certainty splice (the
    conflict-splice precedent — the word-salad pred vocabulary contains
    no negation/hedge cues, measured): every 6th doc contributes one
    triple whose predicate cycles through negated / hedged / asserted
    cue phrases, so all three labels and the negated-beats-hedged
    precedence appear in the gate while the real triples prove the
    'asserted' default."""
    from unsupervised_ner_spark.pipeline.triples import fact_certainty

    trip = q_kg_triples(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    cues = F.array(
        F.lit("not approved for"),
        F.lit("may treat"),
        F.lit("never causes"),
        F.lit("possibly prevents"),
        F.lit("treats"),
    )
    splice = docs.filter(did % 6 == 0).select(
        did.cast("string").alias("url"),
        F.lit(999).cast("long").alias("sent_idx"),
        F.concat(F.lit("drug"), (did % 24).cast("string")).alias("subj"),
        F.lit("THERAPEUTIC_OR_PREVENTIVE_PROCEDURE").alias("subj_type"),
        F.element_at(cues, (F.expr("doc_id DIV 6") % 5 + 1).cast("int")).alias(
            "pred_norm"
        ),
        F.concat(F.lit("cond"), (did % 7).cast("string")).alias("obj"),
        F.lit("DISEASE").alias("obj_type"),
    )
    cols = ["url", "sent_idx", "subj", "subj_type", "pred_norm", "obj",
            "obj_type"]
    return fact_certainty(trip.select(*cols).unionByName(splice.select(*cols)))


def q_kg_wl_colors(spark, sf_dir):
    """Weisfeiler-Lehman refinement colors (er.wl_colors, 2 rounds) on
    the entity co-occurrence graph; the oracle unrolls the identical
    rounds so the md5 color classes match bit-exactly."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.wl_colors(er.cooccurrence_edges(typed), rounds=2)


def q_rel_skyline(spark, sf_dir):
    """2-D skyline / Pareto frontier (curation.skyline2d) over orders:
    the earliest-and-cheapest frontier (minimize order day, minimize
    price) — distinct-point collapse, per-x min-y candidates (bounded by
    distinct order days), one sort-sweep window over that bounded
    candidate table. Dims are pre-normalized to exact integers (epoch
    day; cents via round(x*100) — the stored doubles are 2-decimal
    prices, so the product lands within 1e-9 of an integer and both
    engines round identically) so the hashed surface carries no float/
    timestamp dtype drift."""
    from unsupervised_ner_spark.ops.curation import skyline2d

    o = _t(spark, sf_dir, "orders").select(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("order_day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return skyline2d(o, "order_day", "cents")


def q_kg_itemsets3(spark, sf_dir):
    """Frequent entity 3-itemsets (er.frequent_itemsets3, Apriori
    level 3, minsup 2) over the per-sentence entity events of the
    production typed mentions — candidate n-ary relations the pairwise
    co-occurrence graph cannot represent. The real corpus has NO triple
    with support >= 2 at either gate scale (measured), so the events are
    UNIONed with a deterministic splice (pronoun-splice precedent): trio
    {alpha,beta,gamma} on every 8th doc, overlapping trio
    {alpha,beta,delta} on every 12th, plus one doc-varying 'extraN'
    entity per spliced sentence whose extensions stay at support 1 — so
    the gate exercises BOTH the frequent path (overlapping trios, shared
    sub-pairs) and the Apriori prune (the extraN candidates)."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def trio(mod, third):
        return docs.filter(did % mod == 0).select(
            did.cast("string").alias("url"),
            F.lit(999).cast("long").alias("sent_idx"),
            F.explode(
                F.array(
                    F.lit("alpha"), F.lit("beta"), F.lit(third),
                    F.concat(F.lit("extra"), (did % 97).cast("string")),
                )
            ).alias("surface"),
            F.lit("SOFTWARE").alias("pred_group"),
        )

    cols = ["url", "sent_idx", "surface", "pred_group"]
    events = (
        typed.select(*cols)
        .unionByName(trio(8, "gamma"))
        .unionByName(trio(12, "delta"))
    )
    return er.frequent_itemsets3(events, minsup=2)


def q_kg_nominal_coref(spark, sf_dir):
    """Definite-NP coreference (coref.resolve_definite_nps): the nominal
    sieve beside the pronoun one — and its POSITIVE complement: the
    corpus has no PERSON mentions, so the pronoun gate can only prove
    type agreement by absence; here the spliced anaphors require the
    groups the corpus DOES contain (THERAPEUTIC_OR_PREVENTIVE_PROCEDURE
    / DISEASE / MEASURE by doc_id % 3), so resolutions fire across back
    distances 1 and 2."""
    from unsupervised_ner_spark.pipeline import coref

    typed = _typed_production(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    groups = F.array(
        F.lit("THERAPEUTIC_OR_PREVENTIVE_PROCEDURE"),
        F.lit("DISEASE"),
        F.lit("MEASURE"),
    )
    nps = (
        d.select(
            F.col("doc_id").cast("string").alias("url"),
            F.col("doc_id").alias("did"),
        )
        .withColumn("sent_idx", F.explode(F.array(F.lit(1), F.lit(2))))
        .select(
            "url",
            F.col("sent_idx").cast("long").alias("sent_idx"),
            F.lit(0).cast("long").alias("tok_idx"),
            F.element_at(groups, (F.col("did") % 3 + 1).cast("int")).alias(
                "np_group"
            ),
        )
    )
    return coref.resolve_definite_nps(
        nps,
        typed.select("url", "sent_idx", "mention_idx", "surface", "pred_group"),
    )


def q_kg_clustering_coeff(spark, sf_dir):
    """Per-node local clustering coefficient on the entity co-occurrence
    graph (er.clustering_coefficients): integer sufficient statistics
    2*t(v) / deg(v)(deg(v)-1), degree table and triangle corners off the
    persisted-once aggregated edge table."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.clustering_coefficients(er.cooccurrence_edges(typed))


def q_kg_reciprocal_pairs(spark, sf_dir):
    """Reciprocated entity pairs (both triple directions observed) over
    the production triples UNION the deterministic reciprocity splice."""
    from unsupervised_ner_spark.pipeline.er import reciprocal_pairs

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    trip = stages["triples"].select("subj", "pred_norm", "obj")
    return reciprocal_pairs(trip.unionByName(_recip_splice_triples(spark, sf_dir)))


def q_kg_conll(spark, sf_dir):
    """CoNLL-format per-sentence serialization of the production BIO tag
    table (the interchange file sequence-tagging toolchains ingest)."""
    from unsupervised_ner_spark.pipeline.tagging import conll_export

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    tags = stages["tags"].select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("token_idx").cast("long").alias("token_idx"),
        "word",
        "tag",
    )
    return conll_export(tags)


def q_txt_word_pmi(spark, sf_dir):
    """Skip-gram co-occurrence sufficient statistics (word-embedding
    training prep) — integers only; float PMI is a derived column."""
    from unsupervised_ner_spark.ops.textstats import word_pmi_stats

    return word_pmi_stats(_t(spark, sf_dir, "documents"))


def q_dedup_shared_ngrams(spark, sf_dir):
    """Duplicate-span index (k-token windows recurring across documents)
    over the Hearst-spliced documents — the splice guarantees recurring
    spans exist in the word-salad corpus."""
    from unsupervised_ner_spark.ops.dedup import shared_ngram_spans

    return shared_ngram_spans(_hearst_docs(spark, sf_dir))


def q_kg_tag_transitions(spark, sf_dir):
    """BIO tag-transition matrix with START/END boundaries over the
    production tag table (CRF-style transition prior + BIO sanity)."""
    from unsupervised_ner_spark.pipeline.tagging import tag_transitions

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    tags = stages["tags"].select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("token_idx").cast("long").alias("token_idx"),
        "tag",
    )
    return tag_transitions(tags)


def q_kg_negative_samples(spark, sf_dir):
    """Deterministic tail-corruption negatives over the distinct triple
    table — the KG-embedding trainer's input (two-level vocab rank, md5
    modular draw; ops/kgtrain.py)."""
    from unsupervised_ner_spark.ops.kgtrain import negative_samples

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return negative_samples(stages["triples"], k=2)


def q_kg_entity_contexts(spark, sf_dir):
    """Masked +-3-token context window per typed mention (the entity-aware
    MLM / embedding training row) off the narrow production tagging pass,
    joined back to sentences on (url, sent_idx)."""
    from unsupervised_ner_spark.ops.kgtrain import entity_contexts

    typed = _typed_production(spark, sf_dir)
    return entity_contexts(typed, _sentences(spark, sf_dir), window=3)


def q_kg_entity_trends(spark, sf_dir):
    """Per-entity daily mention series + integer burst flag (the
    per-entity companion of the temporal fact table). The gate folds the
    deterministic url-derived timestamp to a 7-day week (obs_ts =
    (doc % 7) * 86400) so repeated surfaces collide on days and the
    1.5x burst rule genuinely fires (2 bursts at sf0.001 and sf0.01;
    oracle replays the fold)."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    ts = F.pmod(F.col("url").cast("long"), F.lit(7)) * F.lit(86400)
    return er.entity_trends(typed.withColumn("obs_ts", ts))


def q_er_cluster_stats(spark, sf_dir):
    """ER quality dashboard: canonical-cluster size histogram over the
    full resolve_entities membership (exact + LSH + CC)."""
    from unsupervised_ner_spark.pipeline import er

    occ = _occurrences_production(spark, sf_dir)
    _entities, membership = er.resolve_entities(occ)
    return er.cluster_stats(membership)


def q_kg_ensemble_mentions_prod(spark, sf_dir):
    """Two-model ensemble (J5/J6/O4): two detail-mode kernel tagging
    passes + the resolution-maze Column implementation
    (pipeline/ensemble_rules.py), gated directly against the full SQL
    oracle. Registered as both kg_ensemble_mentions and
    kg_ensemble_mentions_prod."""
    from unsupervised_ner_spark.pipeline import ensemble as E
    from unsupervised_ner_spark.pipeline.tagging import tag_sentences

    s = _sentences(spark, sf_dir)
    ta = tag_sentences(s, model="a100", detail=True)
    tb = tag_sentences(s, model="bbc", detail=True)
    out = E.resolve_ensemble(E._mention_rows(ta, "a"), E._mention_rows(tb, "b"))
    return out.select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("mention_idx").cast("long").alias("mention_idx"),
        "surface", "pred_a", "pred_b", "resolution",
    )


def q_kg_ensemble_v1_tags(spark, sf_dir):
    """v1 text-mode ensemble (aggregate_server.py:87-163): per-mention
    precedence pick over two production tagging branches, BIO emission.
    Oracle: two relational typing chains + the same pick in SQL."""
    from unsupervised_ner_spark.pipeline.ensemble_v1 import ensemble_v1_tags

    out = ensemble_v1_tags(_sentences(spark, sf_dir))
    return out.select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("token_idx").cast("long").alias("token_idx"),
        "word", "tag",
    )


def q_kg_ensemble_reconciled(spark, sf_dir):
    """Tokenization-divergence reconciliation: branch B re-tokenizes with
    max-piece-length-6 chunking, min-length truncation per
    confirm_same_size_responses (aggregate_server_json.py:331-348), v1 pick
    per surviving position. Oracle replays the divergent tokenizer in SQL."""
    from unsupervised_ner_spark.pipeline.ensemble_v1 import reconciled_token_tags

    out = reconciled_token_tags(_sentences(spark, sf_dir))
    return out.select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("token_idx").cast("long").alias("token_idx"),
        "word_a", "word_b", "tag_a", "tag_b", "resolution",
    )


def _tagged_production(spark, sf_dir):
    """The narrow production tagging pass over the documents table."""
    return run_pipeline(_docs_as_pages(spark, sf_dir), lang_filter=None)["tagged"]


def _typed_production(spark, sf_dir):
    """Typed mentions from the narrow production tagging pass — the one
    mention and typing implementation; kg_mentions and kg_typed_mentions
    gate it directly against the DuckDB oracles, and the ER queries feed
    off it."""
    from unsupervised_ner_spark.pipeline.runner import typed_mentions_from_tagged

    return typed_mentions_from_tagged(_tagged_production(spark, sf_dir))


def _occurrences_production(spark, sf_dir):
    """Entity occurrences (er.entity_occurrences) over the production
    typed mentions."""
    from unsupervised_ner_spark.pipeline import er

    return er.entity_occurrences(_typed_production(spark, sf_dir))


def _resolved_production(spark, sf_dir):
    """(triples, occurrences, membership) of the ER chain over one
    production tagging pass, persisted in the caller's cache_scope: the
    ER chain and a second consumer (the occurrences again, or the triples,
    which Spark's plan-match cache lookup serves from the cached pass)
    share it. Without the persist the second consumer re-runs the whole
    corpus tagging chain (measured 175 s vs ~50 s for the ER chain alone
    at sf0.001)."""
    from unsupervised_ner_spark.caching import scoped_persist
    from unsupervised_ner_spark.pipeline import er
    from unsupervised_ner_spark.pipeline.runner import typed_mentions_from_tagged

    stages = run_pipeline(_docs_as_pages(spark, sf_dir), lang_filter=None)
    tagged = scoped_persist(stages["tagged"])
    occ = er.entity_occurrences(typed_mentions_from_tagged(tagged))
    _entities, membership = er.resolve_entities(occ)
    return stages["triples"], occ, membership


def q_er_exact_canonical(spark, sf_dir):
    """Exact entity canonicalization over the production typed mentions."""
    from unsupervised_ner_spark.pipeline import er

    occ = _occurrences_production(spark, sf_dir)
    nodes = er.exact_canonical(occ)
    return nodes.select(
        "node_id", "norm_surface", "etype",
        F.col("n_mentions").cast("long").alias("n_mentions"),
        "canonical_surface",
    )


def q_kg_canonical_triples(spark, sf_dir):
    """The north-rule end table: triples with subjects/objects resolved to
    canonical entity ids (exact + LSH + connected-components ER, salted
    membership joins). Oracle: the er_components RECURSIVE-CTE chain
    extended with the triple join.

    SINGLE derivation (VERDICT r02 "What's wrong" 2): both the triples and
    the ER occurrences flatten the SAME persisted production tagging pass —
    round 2 ran a second full relational typing chain just for ER, doubling
    the corpus work inside the most expensive query. The persist is scoped:
    released by bench.py's cache_scope after the action; Spark's plan-match
    cache lookup makes the triples hit the same cached tagging pass
    (_resolved_production)."""
    from unsupervised_ner_spark.pipeline import er

    triples, _occ, membership = _resolved_production(spark, sf_dir)
    out = er.canonicalize_triples(triples, membership)
    return out.select(
        "subj_id", "pred", "obj_id", "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        "subj", "subj_type", "obj", "obj_type",
    )


def q_kg_triple_support(spark, sf_dir):
    """Cross-document triple support (er.triple_support): the canonical
    graph edge table with redundancy counts — one additional bounded
    aggregate on top of the kg_canonical_triples chain."""
    from unsupervised_ner_spark.pipeline import er

    return er.triple_support(q_kg_canonical_triples(spark, sf_dir))


def q_kg_ntriples(spark, sf_dir):
    """RDF N-Triples serialization of the canonical graph (er.to_ntriples)
    — the interchange materialization; a narrow projection over the
    kg_canonical_triples chain."""
    from unsupervised_ner_spark.pipeline import er

    return er.to_ntriples(q_kg_canonical_triples(spark, sf_dir))


def q_er_entity_aliases(spark, sf_dir):
    """Alias table per canonical entity (er.entity_aliases): distinct raw
    surface forms with counts and deterministic dominance rank.

    The occurrence table feeds TWO consumers (the ER chain's exact
    canonicalization and the alias forms aggregate), so the production
    tagging pass it flattens is persisted once (_resolved_production)."""
    from unsupervised_ner_spark.pipeline import er

    _triples, occ, membership = _resolved_production(spark, sf_dir)
    return er.entity_aliases(occ, membership)


def q_kg_entity_cards(spark, sf_dir):
    """Per-canonical-entity profile card (er.entity_cards): top alias,
    alias/mention/doc counts — the KG serving table. Same persisted
    tagging chain as the other ER queries."""
    from unsupervised_ner_spark.pipeline import er

    _triples, occ, membership = _resolved_production(spark, sf_dir)
    return er.entity_cards(occ, membership)


def q_kg_triangles(spark, sf_dir):
    """Triangle enumeration on the entity co-occurrence graph
    (er.triangles): two-join node-iterator over the aggregated edge
    table, canonical a<b<c orientation."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.triangles(er.cooccurrence_edges(typed))


def q_kg_pagerank(spark, sf_dir):
    """Integer-arithmetic PageRank on the entity co-occurrence graph
    (er.pagerank): 3 synchronous power steps with damping 0.85 in pure
    long arithmetic — the DuckDB oracle unrolls the same iterations, so
    the ranks hash bit-exactly (no float summation order)."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.pagerank(er.cooccurrence_edges(typed))


def q_kg_paths_2hop(spark, sf_dir):
    """Two-hop path enumeration over the canonical triple graph
    (er.paths_2hop): distinct-edge self-join through adaptively
    degree-capped middle nodes, cycle-flagged."""
    from unsupervised_ner_spark.pipeline import er

    return er.paths_2hop(er.triple_support(q_kg_canonical_triples(spark, sf_dir)))


def q_kg_graph_components(spark, sf_dir):
    """Weakly connected components of the entity co-occurrence graph
    (er.graph_components): the property-tested large/small-star loop over
    the aggregated edge table; oracle = RECURSIVE min-reachable fixpoint."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.graph_components(er.cooccurrence_edges(typed))


def q_kg_kcore(spark, sf_dir):
    """k-core peel (er.kcore, k=3, 4 fixed rounds — the oracle-replayable
    prefix; the fixpoint variant is unit-tested against brute force)."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.kcore(er.cooccurrence_edges(typed), k=3, rounds=4)


def q_kg_communities(spark, sf_dir):
    """Label-propagation communities on the entity co-occurrence graph
    (er.label_propagation): 4 synchronous rounds with the deterministic
    (count DESC, label ASC) vote — the topic clustering between CC (too
    coarse) and k-core (no assignment); oracle = unrolled CTE rounds."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.label_propagation(er.cooccurrence_edges(typed), iterations=4)


def q_kg_walks(spark, sf_dir):
    """Deterministic DeepWalk corpus (er.deterministic_walks): 2 walks x
    3 hops from every entity node, each hop the md5-argmin neighbour —
    the KG-embedding training sentences, bit-reproducible so the oracle
    replays every hop and the gate hashes full paths."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.deterministic_walks(
        er.cooccurrence_edges(typed), walks_per_node=2, steps=3
    )


def q_kg_fact_intervals(spark, sf_dir):
    """SCD2 validity intervals per canonical fact (triples.fact_intervals):
    gaps-and-islands over distinct observation days (gap > 7 days opens a
    new interval) on the same deterministic url-derived warc_ts the
    temporal fact table uses — exposes retractions between recrawls that
    a single first/last envelope hides."""
    from unsupervised_ner_spark.pipeline import triples as T

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    doc = F.col("url").cast("long")
    ts = (
        F.lit(1704067200)
        + F.pmod(doc, F.lit(97)) * F.lit(86400)
        + F.pmod(doc, F.lit(24)) * F.lit(3600)
    )
    return T.fact_intervals(
        stages["triples"].withColumn("obs_ts", ts), gap_days=7
    )


def q_txt_lm_score(spark, sf_dir):
    """Per-doc LM plausibility score (textstats.lm_doc_score): integer
    mean scaled bigram conditional probability under the corpus's own
    bigram counts + 0..10 decile bucket — the CCNet-style quality signal
    as a hashable integer statistic."""
    return textstats.lm_doc_score(_t(spark, sf_dir, "documents"))


def q_txt_importance(spark, sf_dir):
    """DSIR-shaped importance weights (textstats.importance_weights):
    per-doc integer mean scaled df-ratio of its distinct terms toward the
    lang='en' target slice — importance resampling without a trained
    classifier."""
    return textstats.importance_weights(_t(spark, sf_dir, "documents"))


def q_kg_walk_pairs(spark, sf_dir):
    """Skip-gram (center, context) pairs from the deterministic walk
    corpus (er.walk_skipgram_pairs): forward ±2-hop window inside the
    path array, corpus-aggregated — the word2vec-input table DeepWalk
    embedding training consumes."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    walks = er.deterministic_walks(
        er.cooccurrence_edges(typed), walks_per_node=2, steps=3
    )
    return er.walk_skipgram_pairs(walks, window=2)


def q_kg_degree_dist(spark, sf_dir):
    """Log2-bucketed degree distribution per entity type
    (er.degree_distribution): exact bit-length buckets (no libm log),
    the power-law health dashboard of the entity graph."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.degree_distribution(er.cooccurrence_edges(typed))


def q_kg_fact_churn(spark, sf_dir):
    """Per-predicate churn rollup over the SCD2 fact intervals
    (triples.fact_churn): distinct facts, validity intervals, retracted
    facts (>= 2 intervals), single-day flashes, covered days — the
    KG-freshness dashboard."""
    from unsupervised_ner_spark.pipeline import triples as T

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    doc = F.col("url").cast("long")
    ts = (
        F.lit(1704067200)
        + F.pmod(doc, F.lit(97)) * F.lit(86400)
        + F.pmod(doc, F.lit(24)) * F.lit(3600)
    )
    iv = T.fact_intervals(stages["triples"].withColumn("obs_ts", ts), gap_days=7)
    return T.fact_churn(iv)


def q_txt_crawl_frontier(spark, sf_dir):
    """Politeness-bounded crawl-frontier selection (webtext.crawl_frontier):
    top-3 URLs per host by deterministic md5 priority over the deduped
    normalized-URL table — the per-host budget allocation a crawl
    scheduler runs each cycle."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    return webtext.crawl_frontier(webtext.parse_urls(_synth_urls(d)), k=3)


def q_kg_link_predict(spark, sf_dir):
    """Link-prediction scores (er.link_prediction): adjacency Jaccard +
    resource-allocation index over capped common-neighbor wedges, both as
    exact scaled integers; linked=0 rows are the KG-completion
    candidates."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.link_prediction(er.cooccurrence_edges(typed))


def q_kg_ktruss(spark, sf_dir):
    """k-truss edge peel (er.ktruss, k=3, 2 fixed rounds): every
    surviving edge sits in >= 1 triangle of the surviving subgraph — the
    cohesion refinement of k-core; oracle replays the rounds with the lex
    triangle orientation (identical triangle set)."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.ktruss(er.cooccurrence_edges(typed), k=3, rounds=2)


def q_rel_pivot(spark, sf_dir):
    """Pivot with an EXPLICIT value list (no distinct-collect at scale):
    per-linestatus quantity totals pivoted across the three return flags;
    quantities cast to long before summing (exact integers in TPC-H, so
    both engines agree bit-for-bit)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    out = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(qty))
    )
    return out.select(
        "l_linestatus",
        F.col("A").cast("long").alias("qty_a"),
        F.col("N").cast("long").alias("qty_n"),
        F.col("R").cast("long").alias("qty_r"),
    )


def q_rel_cube(spark, sf_dir):
    """CUBE over (returnflag, linestatus) with grouping_id — the full
    2-D subtotal lattice in ONE pass (no union of aggregates)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(qty).cast("long").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "gid", "n_rows", "sum_qty",
        )
    )


def q_kg_schema_violations(spark, sf_dir):
    """Induced domain/range violations (triples.schema_violations): per
    predicate the dominant (subj_type, obj_type) signature from the
    triple histogram; distinct triples deviating from it, with support —
    the ontology-consistency queue."""
    from unsupervised_ner_spark.pipeline import triples as T

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return T.schema_violations(stages["triples"])


def q_txt_kmv_registers(spark, sf_dir):
    """KMV distinct sketch registers (sketches.kmv_registers): per-lang
    64 smallest token hashes with the adaptive leading-zero pruning rule
    PINNED active (prune_at=1 — fixture vocab is tiny; production default
    4096), the theta-family companion to the HLL registers."""
    from unsupervised_ner_spark.ops import sketches

    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    vals = _t(spark, sf_dir, "documents").select(
        "lang", F.explode(toks).alias("tok")
    )
    return sketches.kmv_registers(vals, ["lang"], "tok", k=64, prune_at=1)


def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment scores (dedup.containment_candidates):
    scale*|A∩B| div |side| per side + the 4/5 cross-multiplied contained
    flag — catches short-doc-inside-long-doc duplication Jaccard misses;
    same df-capped pairing pass as dedup_jaccard."""
    return dedup.containment_candidates(_t(spark, sf_dir, "documents"))


def q_rel_semi_anti(spark, sf_dir):
    """Semi/anti join surface in ONE pass: per customer the order
    existence flag via a LEFT SEMI-shaped aggregate-free plan — expressed
    as left join on the DISTINCT ordering-customer keys (broadcast-able
    dim), never a corpus count. Customers WITHOUT orders (the anti side)
    carry has_orders=0; oracle = EXISTS/NOT EXISTS."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    flagged = c.join(
        o.withColumn("has_orders", F.lit(1).cast("long")), "c_custkey", "left"
    ).withColumn("has_orders", F.coalesce("has_orders", F.lit(0).cast("long")))
    return flagged.select("c_custkey", "c_name", "c_mktsegment", "has_orders")


def q_txt_bpe_merge2(spark, sf_dir):
    """Second BPE trainer iteration (textstats.bpe_second_iteration):
    iteration-1 argmax merge applied to the vocabulary (1-row broadcast,
    plain replace = left-to-right non-overlap), pairs re-counted with the
    merged symbol spelled out — the merge LOOP, not just the first
    count."""
    return textstats.bpe_second_iteration(_t(spark, sf_dir, "documents"))


def q_kg_walks2(spark, sf_dir):
    """Second-order node2vec-style deterministic walks
    (er.deterministic_walks2): the hop sees the previous node, candidates
    classed RETURN / COMMON (prev-adjacent) / EXPLORE via a pair-keyed
    probe of the edge table, argmin of (class_rank, md5) — the p/q bias
    as a deterministic rank; oracle unrolls every hop."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.deterministic_walks2(
        er.cooccurrence_edges(typed), walks_per_node=2, steps=3
    )


def q_rel_unpivot(spark, sf_dir):
    """Unpivot/melt — the reshape inverse of rel_pivot: the pivoted
    per-status quantity columns stacked back to (status, flag, qty) rows;
    null cells dropped on BOTH engines (Spark unpivot keeps them, DuckDB
    UNPIVOT drops them — the filter pins one semantic)."""
    p = q_rel_pivot(spark, sf_dir)
    return (
        p.unpivot(
            ["l_linestatus"], ["qty_a", "qty_n", "qty_r"],
            "flag_col", "qty",
        )
        .filter(F.col("qty").isNotNull())
        .select(
            "l_linestatus",
            F.upper(F.substring("flag_col", 5, 1)).alias("l_returnflag"),
            F.col("qty").cast("long").alias("qty"),
        )
    )


def q_dedup_lsh_quality(spark, sf_dir):
    """LSH candidate-quality summary (dedup.lsh_quality): recall and
    precision of the production banded index against the uncapped exact
    Jaccard truth at the 1/2 threshold — one row, integer scaled; the
    audit-slice evaluation operator (the exact side is quadratic by
    design and never on the production path)."""
    return dedup.lsh_quality(_t(spark, sf_dir, "documents"))


def q_dedup_winnowing(spark, sf_dir):
    """Winnowing fingerprint index (dedup.winnowing_fingerprints; MOSS
    algorithm): min-hash-per-window selection with rightmost ties —
    sparse (~2/(w+1) density) yet guaranteed to catch any shared run of
    >= w+k-1 tokens; corpus-aggregated with keep-first provenance."""
    return dedup.winnowing_fingerprints(_t(spark, sf_dir, "documents"))


def q_txt_unigram_stats(spark, sf_dir):
    """Corpus-relative unigram rarity statistics (textstats.unigram_stats):
    integer sufficient statistics for LM-free quality filtering."""
    return textstats.unigram_stats(_t(spark, sf_dir, "documents"))


def q_er_components(spark, sf_dir):
    """Full ER incl. LSH edges + iterative connected components; the DuckDB
    oracle replays the iteration's fixpoint with a RECURSIVE CTE (min
    reachable node id), upgrading this from rows-only to hash-matched."""
    from unsupervised_ner_spark.pipeline import er

    occ = _occurrences_production(spark, sf_dir)
    ents = er.canonical_entities(occ)
    return ents.select(
        "entity_id", "etype", "canonical_surface",
        F.col("n_mentions").cast("long").alias("n_mentions"),
    )


def _long(df, *cols):
    out = df
    for c in cols:
        out = out.withColumn(c, F.col(c).cast("long"))
    return out


def q_txt_stats(spark, sf_dir):
    return _long(
        textstats.doc_stats(_t(spark, sf_dir, "documents")),
        "n_chars", "n_tokens", "n_distinct_tokens", "n_stopword_tokens",
        "n_punct_chars", "n_bpe_tokens",
    )


def q_txt_quality(spark, sf_dir):
    return textstats.quality_class(textstats.doc_stats(_t(spark, sf_dir, "documents")))


def q_txt_langid(spark, sf_dir):
    return textstats.lang_id(_t(spark, sf_dir, "documents"))


def q_txt_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_t(spark, sf_dir, "documents"))


def q_txt_repetition(spark, sf_dir):
    """Gopher-style within-doc repetition numerators (top-bigram count via
    explode + doc-keyed max, dup-trigram count as a narrow expression)."""
    return _long(
        textstats.repetition_stats(_t(spark, sf_dir, "documents")),
        "n_tokens", "n_bigrams", "top_bigram_n", "n_dup_trigrams",
    )


def q_txt_contamination(spark, sf_dir):
    """Eval-set contamination screen: 5-gram shingle overlap of train docs
    against a broadcast-sized deterministic eval sample."""
    return _long(
        textstats.contamination_screen(_t(spark, sf_dir, "documents")),
        "n_hit_shingles", "n_eval_docs",
    )


def q_txt_source_stats(spark, sf_dir):
    """Per-(source, lang) corpus rollup: docs, tokens, good-quality docs,
    distinct content fingerprints — the domain curation table."""
    return _long(
        textstats.source_stats(_t(spark, sf_dir, "documents")),
        "n_docs", "n_tokens", "n_good_docs", "n_distinct_fingerprints",
    )


def q_txt_length_pct(spark, sf_dir):
    """Per-language token-count percentiles (discrete/exact — the
    distribution-based quality-cutoff table)."""
    return textstats.length_percentiles(_t(spark, sf_dir, "documents"))


def q_txt_hll_registers(spark, sf_dir):
    """Deterministic HyperLogLog register table for per-language distinct-
    token cardinality (ops/sketches.py): one narrow explode + one
    map-side-combining max aggregate bounded by langs x 256 registers —
    the 100 TB count-distinct that never shuffles the token universe."""
    from unsupervised_ner_spark.ops import sketches

    toks = _t(spark, sf_dir, "documents").select(
        "lang",
        F.explode(
            F.transform(textstats.tokens_ws(F.col("text")), F.lower)
        ).alias("tok"),
    )
    return sketches.hll_registers(toks, ["lang"], "tok")


def q_txt_cms_counters(spark, sf_dir):
    """Count-Min sketch counter table over corpus tokens (ops/sketches.py):
    d x 4096 bounded cells, one posexplode + one map-side-combining count
    — bounded-memory token frequencies without shipping the vocabulary."""
    from unsupervised_ner_spark.ops import sketches

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(
            F.transform(textstats.tokens_ws(F.col("text")), F.lower)
        ).alias("tok")
    )
    return sketches.cms_counters(toks, "tok")


def q_txt_bloom_vocab(spark, sf_dir):
    """Bloom-filter vocabulary screen (ops/sketches.py bloom_bits /
    bloom_maybe_contains): the md5-half of the corpus is the "seen" set,
    the other half's distinct tokens probe the broadcast bit table; output
    is every maybe-seen token with its exact-membership flag, so false
    positives (deterministic on both engines) are visible in the gate."""
    from unsupervised_ner_spark.ops import sketches

    docs = _t(spark, sf_dir, "documents")
    is_seen_half = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"

    def _vocab(df):
        return df.select(
            F.explode(
                F.transform(textstats.tokens_ws(F.col("text")), F.lower)
            ).alias("tok")
        ).distinct()

    seen_vocab = _vocab(docs.filter(is_seen_half))
    incoming = _vocab(docs.filter(~is_seen_half))
    bits = sketches.bloom_bits(seen_vocab, "tok")
    maybe = sketches.bloom_maybe_contains(incoming, bits, "tok")
    return maybe.join(
        seen_vocab.withColumn("marker", F.lit(1)), "tok", "left"
    ).select(
        "tok",
        F.coalesce(F.col("marker"), F.lit(0)).cast("long").alias("is_true_seen"),
    )


def q_txt_tfidf(spark, sf_dir):
    """Top-5 TF-IDF terms per document (textstats.tfidf_topk): integer
    tf/df gated, ranking by the 9dp-rounded integer score."""
    return textstats.tfidf_topk(_t(spark, sf_dir, "documents"))


def q_kg_common_neighbors(spark, sf_dir):
    """Link-prediction counts on the co-occurrence graph
    (er.common_neighbors): degree-capped wedge aggregation, full degrees
    and known-link flag attached."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.common_neighbors(er.cooccurrence_edges(typed))


def q_txt_redact(spark, sf_dir):
    """PII redaction (textstats.redact_pii): emails -> <EMAIL>, phone-shaped
    runs -> <PHONE>, residual digit runs -> <NUM>, with per-doc match
    counts. The sf corpus is digit-free by construction, so the query
    prepends a DETERMINISTIC synthetic contact header derived from doc_id
    (same expression replayed by the oracle) — the gate then proves the
    redaction transforms on real hits, not just the no-op passthrough."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    dirty = F.concat_ws(
        " ",
        F.concat(F.lit("user"), did, F.lit("@mail.example.com")),
        F.concat(F.lit("555-01"), F.pmod(F.col("doc_id"), 100).cast("string")),
        F.concat(F.lit("ref "), (F.col("doc_id") * 7 + 13).cast("string")),
        F.col("text"),
    )
    red = textstats.redact_pii(d.select("doc_id", dirty.alias("text")))
    return red.select("doc_id", "red_text", "n_emails", "n_phones", "n_nums")


def q_txt_line_dedup(spark, sf_dir):
    """CCNet-style line-level dedup (textstats.line_dedup): lines whose
    normalized form appears in > 2 distinct docs are dropped; the gate
    hashes the exact retained text per doc. The sf corpus is single-line
    by construction, so the query builds a DETERMINISTIC multi-line view
    (same expression replayed by the oracle, the txt_redact precedent):
    a per-source copyright header (25 docs share each -> dropped), the
    body re-wrapped into 8-word lines (unique -> kept), and a
    newsletter footer on every third doc (corpus-wide -> dropped)."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ", -1)
    nch = F.expr("(size(split(text, ' ', -1)) + 7) div 8")
    body = F.transform(
        F.sequence(F.lit(0), nch - F.lit(1)),
        lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "),
    )
    header = F.concat(
        F.lit("(c) "), F.col("source"), F.lit(" media network all rights reserved")
    )
    footer = F.when(
        F.pmod(F.col("doc_id"), 3) == 0,
        F.array(F.lit("subscribe to our newsletter for daily updates")),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    multi = F.array_join(
        F.concat(F.array(header), body, footer), "\n"
    )
    return textstats.line_dedup(d.select("doc_id", multi.alias("text")))


def q_ann_range_search(spark, sf_dir):
    """Radius similarity search (simsearch.range_search): all neighbors
    with cosine >= 0.2 of the 5 query vectors; integer cos_mil bucket in
    the hashed surface (9dp round before compare and bucket)."""
    return simsearch.range_search(_t(spark, sf_dir, "embeddings"))


def q_dedup_exact(spark, sf_dir):
    return _long(dedup.exact_dup_groups(_t(spark, sf_dir, "documents")), "n_docs")


def q_dedup_jaccard(spark, sf_dir):
    """df-capped pairing — the scale-safe DEFAULT (max_df=25)."""
    return _long(
        dedup.jaccard_candidates(_t(spark, sf_dir, "documents")),
        "n_common", "n_a", "n_b",
    )


def q_dedup_jaccard_exact(spark, sf_dir):
    """uncapped exact variant — oracle cross-check only, quadratic on
    boilerplate shingles (never the scale default)."""
    return _long(
        dedup.jaccard_candidates(_t(spark, sf_dir, "documents"), max_df=None),
        "n_common", "n_a", "n_b",
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    return dedup.lsh_bucket_pairs(_t(spark, sf_dir, "documents"))


def q_dedup_clusters(spark, sf_dir):
    """LSH pairs -> star-CC duplicate clusters + canonical representative
    (the "keep one per dup group" primitive); RECURSIVE-CTE oracle."""
    return dedup.dedup_clusters(_t(spark, sf_dir, "documents"))


def q_dedup_simhash(spark, sf_dir):
    return dedup.simhash64(_t(spark, sf_dir, "documents"))


def q_dedup_simhash_pairs(spark, sf_dir):
    """Hamming near-dup pairs over the 64-bit signature: 16-bit-word
    blocking (pigeonhole-complete for hamming <= 3), bit_count verify."""
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"))


def q_dedup_embedding_cosine(spark, sf_dir):
    return dedup.embedding_cosine_pairs(_t(spark, sf_dir, "embeddings"), threshold_pct=35)


def q_ann_bruteforce(spark, sf_dir):
    return _long(
        simsearch.cosine_topk_bruteforce(_t(spark, sf_dir, "embeddings")), "rank"
    )


def q_ann_ivf_assign(spark, sf_dir):
    return simsearch.ivf_assign(_t(spark, sf_dir, "embeddings"))


def q_ann_ivf_topk(spark, sf_dir):
    return _long(simsearch.ivf_topk(_t(spark, sf_dir, "embeddings")), "rank")



def q_ann_recall(spark, sf_dir):
    """ANN recall@k dashboard (simsearch.ann_recall): per query the hit
    count of the single-probe AND 2-probe IVF chains against the exact
    brute-force top-k — the nprobe knob's measured payoff as integer
    scaled recall."""
    return simsearch.ann_recall(_t(spark, sf_dir, "embeddings"))


def q_ann_ivf_topk_probe(spark, sf_dir):
    """Multi-probe IVF: each query searches its 2 nearest cells — the
    recall knob single-cell probing lacks (near-boundary queries)."""
    return _long(
        simsearch.ivf_topk_probe(_t(spark, sf_dir, "embeddings"), nprobe=2),
        "rank",
    )

def q_ann_pq_codes(spark, sf_dir):
    """Product-quantization code table (simsearch.pq_codes): the
    m·log2(ksub)-bit compressed corpus representation."""
    return simsearch.pq_codes(_t(spark, sf_dir, "embeddings"))


def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN (simsearch.ivfpq_topk): cell-pruned candidates ranked by
    integer ADC over the PQ codes — the billion-scale composition."""
    return simsearch.ivfpq_topk(_t(spark, sf_dir, "embeddings"))


def q_mm_ahash(spark, sf_dir):
    """Perceptual average-hash signatures (multimodal.average_hash): the
    image near-dup signature with the decode stage stubbed to evenly
    spaced byte sampling — real mapInPandas kernel shape, oracle replays
    the hex projection byte-exactly."""
    docs = _t(spark, sf_dir, "documents")
    out = multimodal.average_hash(multimodal.synth_media(docs))
    return _long(out, "n_bytes", "n_ones")


def q_mm_phash(spark, sf_dir):
    """Perceptual DCT hash (multimodal.perceptual_hash): 8x8 grid ->
    exact fixed-point integer DCT-II (shared PHASH_DCT basis) -> median
    threshold over the 63 AC coefficients; the frequency-domain near-dup
    signature beside aHash. Oracle replays the identical integer
    arithmetic from the hex projection (basis constants imported)."""
    docs = _t(spark, sf_dir, "documents")
    out = multimodal.perceptual_hash(multimodal.synth_media(docs))
    return _long(out, "n_bytes", "n_ones")


def q_txt_filter_funnel(spark, sf_dir):
    """Quality-filter funnel with first-kill attribution (curation
    .filter_funnel): per ordered rule, docs killed + docs remaining —
    one narrow scan, one bounded histogram, windows only over the
    |rules|+1-row table."""
    from unsupervised_ner_spark.ops.curation import filter_funnel

    return filter_funnel(_t(spark, sf_dir, "documents"))


def q_rel_quantiles(spark, sf_dir):
    """Exact per-group discrete quantiles (p25/p50/p75 of l_quantity per
    returnflag) via rank-at-ceil(n*p/100) row_number selection — integer
    outputs, no interpolation, no approx sketch; the oracle replays the
    same rank rule."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    w = Window.partitionBy("l_returnflag").orderBy("qty")
    r = li.select(
        "l_returnflag", "qty",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
    )

    def at(p):
        return F.max(
            F.when(
                F.col("rn") == F.floor((F.col("n") * p + 99) / 100), F.col("qty")
            )
        ).cast("long")

    return r.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n"),
        at(25).alias("q25"), at(50).alias("q50"), at(75).alias("q75"),
    )


def q_rel_outliers(spark, sf_dir):
    """Robust MAD-based anomaly summary per event type — the data-quality
    op next to rel_quantiles: exact discrete median of integer cents
    (rank-at-ceil(n/2), no interpolation), exact discrete median of
    absolute deviations (MAD), and the count of |x - med| > 5 * MAD
    outliers; all-integer, both medians via the same rank device the
    oracle replays. Two group-partitioned windows over the event store's
    native user/type sharding + one aggregate — no sketch, no float in
    the hashed surface (value -> cents via round(value*100), the
    half-way-free 2-decimal device)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mid = F.floor((F.col("n") * 50 + 99) / 100)

    def med_of(df, col):
        w = Window.partitionBy("event_type").orderBy(col)
        r = df.select(
            "event_type", col,
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("event_type")).alias("n"),
        )
        return r.groupBy("event_type").agg(
            F.max(F.when(F.col("rn") == mid, F.col(col))).cast("long")
            .alias(f"med_{col}")
        )

    med = med_of(ev, "cents")
    dev = ev.join(med, "event_type").select(
        "event_type", "cents",
        F.abs(F.col("cents") - F.col("med_cents")).alias("adev"),
        "med_cents",
    )
    mad = med_of(dev.select("event_type", "adev"), "adev")
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("med_cents").cast("long").alias("med_cents"),
            F.max("med_adev").cast("long").alias("mad_cents"),
            F.sum(
                F.when(F.col("adev") > 5 * F.col("med_adev"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.max("adev").cast("long").alias("max_dev"),
        )
    )


def q_kg_graph_stats(spark, sf_dir):
    """One-row graph health dashboard (er.graph_stats): node/edge counts,
    density_ppm, max degree, and the exact-integer degree Gini — the
    skew signal that decides whether hub salting is needed."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.graph_stats(er.cooccurrence_edges(typed))


def q_rel_changepoint(spark, sf_dir):
    """Exact-integer CUSUM changepoint per event type
    (asof.cusum_changepoint): the stream-monitoring op beside
    rel_transitions."""
    from unsupervised_ner_spark.ops.asof import cusum_changepoint

    return cusum_changepoint(_t(spark, sf_dir, "events"))


def q_ann_cluster_quality(spark, sf_dir):
    """IVF clustering diagnostics (simsearch.cluster_quality): per-cell
    members / quantized inertia / worst distance + nearest-other-centroid
    separation — the Davies-Bouldin ingredients as exact integers."""
    from unsupervised_ner_spark.ops.simsearch import cluster_quality

    return cluster_quality(_t(spark, sf_dir, "embeddings"))


def q_txt_token_entropy(spark, sf_dir):
    """Per-doc unigram-entropy sufficient statistics
    (textstats.token_entropy): exact n_tokens / n_types + per-term-
    rounded integer-summed c*ln(c) — the distribution-shape quality
    signal."""
    from unsupervised_ner_spark.ops.textstats import token_entropy

    return token_entropy(_t(spark, sf_dir, "documents"))


def q_txt_collocation_llr(spark, sf_dir):
    """Dunning G2 collocations (textstats.collocation_llr): adjacent-
    bigram contingency over the corpus bigram universe, four per-cell-
    i9-rounded BIGINT terms doubled — the significance-tested phrase
    ranking beside txt_word_pmi's raw sufficient statistics."""
    return textstats.collocation_llr(_t(spark, sf_dir, "documents"))


def q_txt_zipf_slope(spark, sf_dir):
    """Zipf rank-frequency OLS sufficient statistics
    (textstats.zipf_slope): one exact-integer row — n_terms + the four
    i9-rounded log-space sums; the float slope is derived downstream."""
    return textstats.zipf_slope(_t(spark, sf_dir, "documents"))


def q_txt_burstiness(spark, sf_dir):
    """Per-term dispersion (textstats.term_burstiness — Church & Gale):
    cf / df / max_tf / sum_tf2, the content-vs-function-word separator."""
    return textstats.term_burstiness(_t(spark, sf_dir, "documents"))


def q_rel_weekday_profile(spark, sf_dir):
    """Day-of-week seasonality per event type (asof.weekday_profile):
    epoch-day arithmetic weekday (never an engine dayofweek builtin),
    exact uniformity deviation and share."""
    from unsupervised_ner_spark.ops.asof import weekday_profile

    return weekday_profile(_t(spark, sf_dir, "events"))


GAP_FILL_MOD = 101
GAP_FILL_REM = 0
SEQ_MOD = 7
SEQ_REM = 0


def q_rel_gap_fill(spark, sf_dir):
    """Calendar densification (asof.calendar_gap_fill): per event type
    every day in the observed range, zero-filled with is_filled flagged.
    The raw stream is day-dense at every gate scale, so the query runs on
    the deterministic sparse substream event_id % GAP_FILL_MOD ==
    GAP_FILL_REM — the residue splice that makes BOTH fill branches fire
    (the rel_funnel precedent); the oracle replays the identical filter."""
    from unsupervised_ner_spark.ops.asof import calendar_gap_fill

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_id") % GAP_FILL_MOD == GAP_FILL_REM
    )
    return calendar_gap_fill(ev)


def q_rel_hopping_window(spark, sf_dir):
    """Hopping 7-day-by-1-day window counts (asof.hopping_window_counts):
    expression-side explode into covering window starts, two stacked
    aggregates for exact n_events + distinct n_users — the batch twin of
    a streaming window(ts, '7 days', '1 day')."""
    from unsupervised_ner_spark.ops.asof import hopping_window_counts

    return hopping_window_counts(_t(spark, sf_dir, "events"), width_days=7)


def q_txt_canonical_conflicts(spark, sf_dir):
    """Canonical-group content audit (webtext.canonical_conflicts): the
    synthetic redirect graph's groups of 8 fingerprint-compared; every
    5th group gets a group-constant fingerprint splice so BOTH the
    conflict and the clean branch fire."""
    from unsupervised_ner_spark.ops.webtext import canonical_conflicts

    d = _t(spark, sf_dir, "documents")
    url = lambda c: F.concat(F.lit("https://ex.org/p"), c.cast("string"))  # noqa: E731
    edges = d.filter(F.col("doc_id") % 8 != 0).select(
        url(F.col("doc_id")).alias("src"),
        url(F.col("doc_id") - 1).alias("dst"),
    )
    grp = F.expr("doc_id div 8")
    pages = d.select(
        url(F.col("doc_id")).alias("url"),
        F.when(
            grp % 5 == 0,
            F.md5(F.concat(F.lit("g"), grp.cast("string"))),
        ).otherwise(F.md5(F.col("text"))).alias("fp"),
    )
    return canonical_conflicts(edges, pages)


def q_rel_interarrival(spark, sf_dir):
    """Inter-arrival cadence per event type (asof.interarrival): exact
    discrete median / p90 / max gap in microseconds over per-(user,
    type) consecutive gaps — the burstiness diagnostic."""
    from unsupervised_ner_spark.ops.asof import interarrival

    return interarrival(_t(spark, sf_dir, "events"))


def q_rel_value_deciles(spark, sf_dir):
    """Exact user-value deciles + gain curve WITHOUT a global sort
    (asof.value_deciles): global rank decomposed as bounded-histogram
    cum + within-value row_number — the scale-safe ntile."""
    from unsupervised_ner_spark.ops.asof import value_deciles

    return value_deciles(_t(spark, sf_dir, "events"))


def q_txt_heaps_growth(spark, sf_dir):
    """Heaps-law vocabulary growth (textstats.heaps_growth): exact token
    + distinct-term counts at power-of-2 doc checkpoints via bit-length
    bucket histograms — no prefix is ever materialized."""
    from unsupervised_ner_spark.ops.textstats import heaps_growth

    return heaps_growth(_t(spark, sf_dir, "documents"))


def q_rel_late_events(spark, sf_dir):
    """Watermark-lateness histogram (asof.late_events): decimal-magnitude
    delay buckets per event type with exact share_ppm — the diagnostic
    that sizes a streaming watermark."""
    from unsupervised_ner_spark.ops.asof import late_events

    return late_events(_t(spark, sf_dir, "events"))


def q_rel_corr_pairs(spark, sf_dir):
    """Pairwise daily-count correlation (asof.corr_pairs): exact integer
    sufficient statistics over shared days + two-step exact-order
    corr2_ppm — the co-movement companion of rel_trend."""
    from unsupervised_ner_spark.ops.asof import corr_pairs

    return corr_pairs(_t(spark, sf_dir, "events"))


def q_txt_rank_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (textstats.rrf_fusion): BM25 and
    pure-integer TF-IDF top-20 runs fused by 10^6 div (60+rank) — the
    hybrid-search combiner, all-integer end to end."""
    from unsupervised_ner_spark.ops.textstats import rrf_fusion

    return rrf_fusion(_t(spark, sf_dir, "documents"))


def q_ann_hard_negatives(spark, sf_dir):
    """Label-aware hard-negative mining (simsearch.hard_negatives):
    per query vector the top-5 most-similar DIFFERENT-label vectors —
    the contrastive-training negatives (ANCE-style), under the
    brute-force ordering contract."""
    from unsupervised_ner_spark.ops.simsearch import hard_negatives

    return hard_negatives(_t(spark, sf_dir, "embeddings"))


def q_txt_cosine_pairs(spark, sf_dir):
    """Sparse TF-cosine near-dup pairs (textstats.cosine_pairs) over the
    rare-term (df <= 20) vocabulary — the weighted sibling of
    dedup_jaccard. The word-salad corpus vocabulary is all high-df, so a
    deterministic rare-term splice is appended per doc: ' zq<did div 7>
    zr<did div 3>' (+' zq..' again for even docs, so dots vary) — pairs
    sharing BOTH group terms pass min_shared=2, with exact integer dot /
    norms / cos2_ppm over the rare subspace."""
    from unsupervised_ner_spark.ops.textstats import cosine_pairs

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    zq = F.concat(F.lit(" zq"), F.expr("doc_id div 7").cast("string"))
    zr = F.concat(F.lit(" zr"), F.expr("doc_id div 3").cast("string"))
    spliced = d.select(
        "doc_id",
        F.concat(
            F.col("text"), zq, zr,
            F.when(did % 2 == 0, zq).otherwise(F.lit("")),
        ).alias("text"),
    )
    return cosine_pairs(spliced, max_df=20, min_shared=2)


def q_txt_redirect_chains(spark, sf_dir):
    """Redirect/canonical chain resolution by pointer doubling
    (webtext.redirect_chains): the synthetic functional graph points doc
    i at doc i-1 unless i % 8 == 0 (the terminal), so chains up to 7
    hops resolve in 3 doubling rounds; every non-terminal url emits its
    terminal + exact hop distance."""
    from unsupervised_ner_spark.ops.webtext import redirect_chains

    d = _t(spark, sf_dir, "documents")
    url = lambda c: F.concat(F.lit("https://ex.org/p"), c.cast("string"))  # noqa: E731
    edges = d.filter(F.col("doc_id") % 8 != 0).select(
        url(F.col("doc_id")).alias("src"),
        url(F.col("doc_id") - 1).alias("dst"),
    )
    return redirect_chains(edges)


def q_kg_richclub(spark, sf_dir):
    """Rich-club coefficient curve (er.rich_club): per degree threshold
    k, nodes with deg > k, edges with both endpoints deg > k, and exact
    integer phi_ppm — the hub-wiring signal beside kg_graph_stats'
    Gini."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.rich_club(er.cooccurrence_edges(typed))


def q_rel_trend(spark, sf_dir):
    """Exact-integer OLS trend per event type (asof.trend_ols): min-day
    shifted sufficient statistics, sign-factored slope_ppm — the drift
    monitor beside rel_changepoint."""
    from unsupervised_ner_spark.ops.asof import trend_ols

    return trend_ols(_t(spark, sf_dir, "events"))


def q_rel_scd2(spark, sf_dir):
    """SCD Type-2 dimension history from the event change log
    (asof.scd2_history): per-user consecutive same-state runs compressed
    into [valid_from_us, valid_to_us) intervals, last run open."""
    from unsupervised_ner_spark.ops.asof import scd2_history

    return scd2_history(_t(spark, sf_dir, "events"))


def q_rel_q3_topk(spark, sf_dir):
    """TPC-H Q3-shaped 3-table analytics query: BUILDING-segment orders
    placed before 1998-07-01 with lineitems shipped after it, revenue =
    sum of EXACT integer micro-cents (round(ep*100) * (100 -
    round(disc*100)) — 2-decimal columns make both roundings half-way
    free), top 10 by (revenue DESC, orderkey ASC). The capability
    showcase: both date filters push to the parquet scans, the customer
    dim broadcasts, orders joins lineitem on the orderkey shuffle key,
    the aggregate map-side combines, the top-k is a TakeOrdered — never
    a global sort."""
    cutoff = "1998-07-01"
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    ).select(
        "l_orderkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (100 - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("rev_q"),
    )
    agg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.sum("rev_q").cast("long").alias("revenue_q"),
            F.max(
                F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
            ).cast("long").alias("order_day"),
        )
    )
    return (
        agg.orderBy(F.desc("revenue_q"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue_q", "order_day")
    )


def q_kg_taxonomy_rollup(spark, sf_dir):
    """Per-hypernym rollup through the capped closure: distinct
    descendant count, direct-child count, min/max descendant depth — the
    class-size dashboard a taxonomy curator reads next to the closure."""
    from unsupervised_ner_spark.pipeline.taxonomy import (
        hearst_hypernyms,
        taxonomy_closure,
    )

    clo = taxonomy_closure(
        hearst_hypernyms(_hearst_sentences(spark, sf_dir)), max_hops=8
    )
    return clo.groupBy("hyper").agg(
        F.countDistinct("hypo").cast("long").alias("n_descendants"),
        F.sum(F.when(F.col("hops") == 1, 1).otherwise(0))
        .cast("long").alias("n_children"),
        F.min("hops").cast("long").alias("min_hops"),
        F.max("hops").cast("long").alias("max_hops"),
    )


def q_mm_phash_pairs(spark, sf_dir):
    """Hamming-near media pairs (multimodal.phash_pairs): Manku 8-block
    blocking with bucket cap + exact 64-position verify; the oracle
    replays blocking as part of the operator semantics (LSH precedent).
    Splices: byte-identical dup at +1000000 (Hamming 0) and a same-length
    first-byte perturbation at +2000000 (small nonzero Hamming)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spliced = d.unionAll(
        d.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
        )
    ).unionAll(
        d.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + F.lit(2000000)).alias("doc_id"),
            F.concat(F.lit("Z"), F.expr("substring(text, 2)")).alias("text"),
        )
    )
    sig = multimodal.perceptual_hash(multimodal.synth_media(spliced))
    return _long(multimodal.phash_pairs(sig), "doc_a", "doc_b")


def q_rel_interval_join(spark, sf_dir):
    """Temporal containment join WITHOUT an equi key (ops/asof.py
    interval_join): clicks inside [view_ts, view_ts + 30 min) via bucket
    binning — interval explodes to its covered 30-min cells, point maps
    to ONE cell, hash equi-join on the cell + residual range filter (no
    nested loop, no corpus broadcast); DuckDB oracles the raw theta
    join."""
    from unsupervised_ner_spark.ops.asof import interval_join

    e = _t(spark, sf_dir, "events")
    iv_len_us = 1_800_000_000
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    out = interval_join(
        clicks, views,
        point_ts="ts", start_ts="start_ts", end_ts="end_ts",
        bucket_us=iv_len_us,
        point_cols=["click_id"], interval_cols=["view_id"],
    )
    return _long(out, "click_id", "iv_view_id")


FUNNEL_DROP_MOD = 5


def q_rel_funnel(spark, sf_dir):
    """Ordered conversion funnel (ops/asof.py funnel_steps):
    view -> click -> purchase with strict event-time ordering; per user
    the step reached plus the inter-step gaps in microseconds (gaps, not
    epochs, are hashed — the asof timezone rule). All 15/150 synth users
    complete the funnel naturally (measured), so the gate filter
    deterministically drops user-residue click / purchase events to make
    the reached_step 1 and 2 exit branches fire (3/3/9 and 30/30/90 at
    the gate scales)."""
    from unsupervised_ner_spark.ops.asof import funnel_steps

    e = _t(spark, sf_dir, "events").filter(
        ~((F.col("user_id") % FUNNEL_DROP_MOD == 1)
          & (F.col("event_type") == "click"))
        & ~((F.col("user_id") % FUNNEL_DROP_MOD == 2)
            & (F.col("event_type") == "purchase"))
    )
    return funnel_steps(e, steps=("view", "click", "purchase"))


RETENTION_CHURN_MOD = 3
RETENTION_CHURN_DAY = 19737   # 2024-01-15 as a wall-clock day index
RETENTION_LATE_DAY = 19730    # 2024-01-08


def q_rel_retention(spark, sf_dir):
    """Weekly cohort retention matrix (ops/asof.py retention_cohorts):
    cohort = first-activity week (wall-clock day DIV 7 — tz-free in
    both engines), per (cohort, offset) distinct active users + exact
    integer retention_ppm. Every synth user is active in every week
    (measured), so the gate filter churns user residue 1 mid-window and
    delays residue 2's first event — decay (500000 ppm) and a second
    cohort both fire at both gate scales."""
    from unsupervised_ner_spark.ops.asof import retention_cohorts

    day = F.expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') AS BIGINT)")
    e = _t(spark, sf_dir, "events").filter(
        ~((F.col("user_id") % RETENTION_CHURN_MOD == 1)
          & (day >= RETENTION_CHURN_DAY))
        & ~((F.col("user_id") % RETENTION_CHURN_MOD == 2)
            & (day < RETENTION_LATE_DAY))
    )
    return retention_cohorts(e, period_days=7)


def q_rel_transitions(spark, sf_dir):
    """Clickstream Markov transition matrix (ops/asof.py
    event_transitions): per-user (prev -> next) event-type counts with
    '_start'/'_end' sentinels and exact-integer conditional ppm — one
    window pass on the user partitioning, then bounded-matrix
    aggregates."""
    from unsupervised_ner_spark.ops.asof import event_transitions

    return event_transitions(_t(spark, sf_dir, "events"))


def q_kg_bipartite(spark, sf_dir):
    """Bipartiteness / odd-cycle accounting (er.bipartite_parity): BFS
    parity 2-coloring from each component's canonical root over the
    co-occurrence graph; per component the reached/open counts, the
    odd-edge (equal-parity) count, and the conservative within-horizon
    bipartite flag. Both flag branches fire at the gate scales
    (measured): the word-salad graph carries triangle-bearing components
    AND genuinely 2-colorable islands."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.bipartite_parity(er.cooccurrence_edges(typed), rounds=4)


def q_kg_closure_delta(spark, sf_dir):
    """INCREMENTAL closure maintenance (taxonomy_closure_incremental):
    yesterday's closure (even doc_ids) + today's delta edges (odd
    doc_ids) folded by min-plus rounds seeded with closure ∪ delta —
    gated against the FULL-recompute oracle over all docs, so the hash
    match IS the incremental==full proof (IVM family)."""
    from unsupervised_ner_spark.pipeline.taxonomy import (
        hearst_hypernyms,
        taxonomy_closure,
        taxonomy_closure_incremental,
    )

    docs = _hearst_docs(spark, sf_dir)

    def sents(d):
        return pages_to_sentences(_pages_of(d)).select(
            "url", F.col("sent_idx").cast("long").alias("sent_idx"), "sent"
        )

    old_edges = hearst_hypernyms(sents(docs.filter(F.col("doc_id") % 2 == 0)))
    delta_edges = hearst_hypernyms(sents(docs.filter(F.col("doc_id") % 2 == 1)))
    return taxonomy_closure_incremental(
        taxonomy_closure(old_edges, max_hops=8), delta_edges, max_hops=8
    )


def q_mm_ahash_groups(spark, sf_dir):
    """Perceptual near-dup groups: identical aHash signatures collapse to
    one group (size + min-doc representative) — the media-level twin of
    dedup_exact, ONE aggregate over the signature table. The word-salad
    corpus has no byte-identical payloads (0 groups measured), so a
    deterministic duplicate splice (every 25th doc re-enters at doc_id +
    1000000; Hearst TEXT-splice precedent) exercises the >= 2 branch —
    replayed identically by the oracle."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = d.unionAll(
        d.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
        )
    )
    ah = multimodal.average_hash(multimodal.synth_media(docs))
    return (
        ah.groupBy("ahash_bits")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("rep_doc"),
            F.min("n_ones").cast("long").alias("n_ones"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def q_kg_ppr(spark, sf_dir):
    """Personalized PageRank seeded on the DISEASE type
    (er.personalized_pagerank): topic-sensitive integer power iteration —
    importance relative to the disease cluster; oracle unrolls the same
    long arithmetic."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.personalized_pagerank(
        er.cooccurrence_edges(typed), seed_type="DISEASE"
    )


def q_mm_media_meta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    meta = multimodal.media_metadata(multimodal.synth_media(docs))
    return _long(meta, "n_bytes", "width", "height")


def q_mm_frames(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _long(
        multimodal.frame_sample(multimodal.synth_media(docs)),
        "frame_idx", "n_bytes",
    )


def q_mm_thumbnail(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _long(
        multimodal.resize_thumbnail(multimodal.synth_media(docs)),
        "thumb_w", "thumb_h",
    )


# ---------------------------------------------------------------------------
# relational operator coverage (scan/filter/agg/join/window/set/rollup)
# ---------------------------------------------------------------------------


def q_rel_agg_scan(spark, sf_dir):
    """S1/P3/A8: filtered scan + hash aggregate (pushdown-friendly)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") < "1998-01-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


def q_rel_join_topk(spark, sf_dir):
    """J1-style broadcast join + O1/O2 top-k per group (rank<=3 by
    totalprice desc, orderkey asc)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("c_mktsegment", F.col("rank").cast("long").alias("rank"), "o_orderkey")
    )


def q_rel_window_sessions(spark, sf_dir):
    """W-family: sessionization (gaps-and-islands over time)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")  # ts is TIMESTAMP_NTZ
    gap = epoch - F.lag(epoch).over(w)
    newsess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    df = e.withColumn("ns", newsess)
    return df.groupBy("user_id").agg(
        F.sum("ns").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def q_rel_asof_join(spark, sf_dir):
    """Distributed as-of join (ops/asof.py): every click event joins the
    most recent at-or-before view event of the same user — one hash
    exchange + sort, never a range join. The hashed surface carries event
    ids and the tz-invariant microsecond gap (absolute timestamps are
    session-timezone-sensitive across engines; a difference is not)."""
    from unsupervised_ner_spark.ops.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    views = e.filter(F.col("event_type") == "view")
    j = asof_join(
        clicks, views, on=["user_id"], left_ts="ts", right_ts="ts",
        left_cols=["event_id", "ts"], right_cols=["event_id", "ts"],
        right_tie="event_id",
    )
    return j.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("click_event_id"),
        F.col("r_event_id").cast("long").alias("view_event_id"),
        F.expr("timestampdiff(MICROSECOND, r_ts, ts)").cast("long").alias("gap_us"),
    )


def q_rel_set_union(spark, sf_dir):
    """2.8 set ops: UNION DISTINCT."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("long").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("long").alias("nationkey"))
    return c.union(s).distinct()


def q_rel_rollup(spark, sf_dir):
    """grouping sets / rollup (free in Spark SQL; absent in the reference)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.rollup("event_type")
        .agg(F.count("*").alias("n"))
        .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"), "n")
    )


def q_er_entity_linking(spark, sf_dir):
    """Entity linking (er.link_entities_to_kb): canonical entity nodes ->
    best term in the bootstrapped signature vocab (the reference's
    vocab->label clusters ARE its KB). Blocked (2-char prefix + length
    band) + levenshtein<=2 verify against the BROADCAST KB dim; per-node
    argmin as a map-side-combining min(struct) — no corpus shuffle for
    candidate generation."""
    from unsupervised_ner_spark.descriptors import FIXTURES_DIR
    from unsupervised_ner_spark.pipeline import er

    occ = _occurrences_production(spark, sf_dir)
    nodes = er.exact_canonical(occ).select(
        "node_id", "norm_surface", "etype", "n_mentions"
    )
    sig = spark.read.parquet(str(FIXTURES_DIR / "entity_signatures_a100.parquet"))
    return er.link_entities_to_kb(nodes, sig)


def q_kg_triples_temporal(spark, sf_dir):
    """Temporal fact table (triples.triples_temporal): per-triple
    first/last-seen epochs + observation/page/day counts over a
    DETERMINISTIC url-derived warc_ts (epoch = 2024-01-01 + (doc%97) days
    + (doc%24) hours — the testdata documents carry no timestamp, so the
    wrapper attaches the page timestamp the north-rule schema provides
    and the oracle replays the same expression; txt_redact precedent).
    Two-level aggregate: (triple, url) first, so the one remaining
    DISTINCT (obs day) runs over already-deduped pages — no
    double-distinct Expand."""
    from unsupervised_ner_spark.pipeline import triples as T

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    doc = F.col("url").cast("long")
    ts = (
        F.lit(1704067200)
        + F.pmod(doc, F.lit(97)) * F.lit(86400)
        + F.pmod(doc, F.lit(24)) * F.lit(3600)
    )
    return T.triples_temporal(stages["triples"].withColumn("obs_ts", ts))


def q_ann_srp_lsh(spark, sf_dir):
    """SRP-LSH approximate top-k (simsearch.srp_lsh_topk): 16 seeded +-1
    hyperplanes hash the corpus narrowly; queries probe their own bucket
    via a broadcast equi-join; exact rounded-cosine verify + top-k."""
    return simsearch.srp_lsh_topk(_t(spark, sf_dir, "embeddings"))


def _synth_link_html(d: DataFrame) -> DataFrame:
    """Deterministic per-doc markup with anchors for the link gates
    (replayed by oracle_sql): one absolute external link always, a
    relative link every 2nd doc, a root-relative (with fragment) every
    3rd, a protocol-relative every 4th, mailto+javascript junk every
    5th, a fragment-only anchor on every doc (must drop), a bold-markup
    alias anchor on every doc (anchor-text normalization), and a
    <link rel="canonical"> on every odd doc (must NOT match the <a\\s
    href pattern)."""
    u = _synth_urls(d)
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><p><a href="https://ext'),
        F.pmod(did, 5).cast("string"),
        F.lit('.example.net/x">a</a>'),
        F.when(
            did % 2 == 0,
            F.concat(F.lit('<a href="sub/page'), F.pmod(did, 3).cast("string"),
                     F.lit('.html">r</a>')),
        ).otherwise(""),
        F.when(did % 3 == 0, '<a href="/top#frag">t</a>').otherwise(""),
        F.when(did % 4 == 0, '<a href="//cdn.example.org/lib.js">c</a>').otherwise(""),
        F.when(
            did % 5 == 0,
            '<a href="mailto:x@y.example">m</a><a href="javascript:void(0)">j</a>',
        ).otherwise(""),
        F.concat(
            F.lit('<a href="/alias'), F.pmod(did, 3).cast("string"),
            F.lit('"><b>Alias</b> Entity '), F.pmod(did, 3).cast("string"),
            F.lit("</a>"),
        ),
        F.lit('<a href="#top">f</a></p>'),
        F.when(
            did % 2 == 1,
            F.concat(
                F.lit('<link rel="canonical" href="https://canon.example.com/c'),
                F.pmod(did, 7).cast("string"), F.lit('">'),
            ),
        ).otherwise(""),
        F.lit("</body></html>"),
    )
    return u.withColumn("html_text", html)


def q_txt_links(spark, sf_dir):
    """Hyperlink extraction + resolution (webtext.extract_links) over the
    deterministic anchor markup — absolute/protocol-relative/
    root-relative/relative resolution against the synthetic page URL,
    with fragment stripping and junk-scheme drops all exercised."""
    from unsupervised_ner_spark.ops import webtext

    return webtext.extract_links(_synth_link_html(_t(spark, sf_dir, "documents")))


def q_txt_host_graph(spark, sf_dir):
    """Host-level link graph (webtext.host_link_graph): one bounded
    aggregate over the extracted links — internal vs external edges."""
    from unsupervised_ner_spark.ops import webtext

    return webtext.host_link_graph(
        webtext.extract_links(_synth_link_html(_t(spark, sf_dir, "documents")))
    )


def q_txt_anchor_texts(spark, sf_dir):
    """Anchor-text alias dictionary (webtext.extract_anchors +
    anchor_text_stats): per (resolved target, normalized anchor text),
    occurrence + distinct-page counts — tag-stripped bold-markup anchors
    exercised by the splice."""
    from unsupervised_ner_spark.ops import webtext

    return webtext.anchor_text_stats(
        webtext.extract_anchors(_synth_link_html(_t(spark, sf_dir, "documents")))
    )


def q_txt_canonical(spark, sf_dir):
    """Canonical-URL mapping (webtext.canonical_urls): first declared
    <link rel=canonical> resolved against the page, self-fallback when
    absent — both branches fire (canonical on odd docs only)."""
    from unsupervised_ner_spark.ops import webtext

    return webtext.canonical_urls(_synth_link_html(_t(spark, sf_dir, "documents")))


def q_txt_host_rank(spark, sf_dir):
    """Host centrality: the integer PageRank operator (er.pagerank —
    bit-exact long arithmetic, unrolled by the oracle) composed over the
    external host link graph (webtext.host_link_graph), demonstrating the
    graph ops consume web edges as well as entity edges."""
    from unsupervised_ner_spark.ops import webtext
    from unsupervised_ner_spark.pipeline import er

    g = webtext.host_link_graph(
        webtext.extract_links(_synth_link_html(_t(spark, sf_dir, "documents")))
    )
    edges = g.filter(~F.col("internal")).select(
        F.col("src_host").alias("ent_a"), F.lit("HOST").alias("type_a"),
        F.col("dst_host").alias("ent_b"), F.lit("HOST").alias("type_b"),
    )
    return er.pagerank(edges).select(
        F.col("ent").alias("host"), "deg", "rank_scaled"
    )


def q_txt_host_hits(spark, sf_dir):
    """Integer HITS hubs/authorities (webtext.host_hits) on the directed
    external host graph — bit-exact long half-steps with broadcast 1-row
    max-normalization; the oracle unrolls the same steps."""
    from unsupervised_ner_spark.ops import webtext

    g = webtext.host_link_graph(
        webtext.extract_links(_synth_link_html(_t(spark, sf_dir, "documents")))
    )
    return webtext.host_hits(g)


def q_dedup_canonical(spark, sf_dir):
    """Publisher-declared dedup groups (webtext.canonical_dedup_groups):
    pages grouped by canonical target with deterministic representative."""
    from unsupervised_ner_spark.ops import webtext

    return webtext.canonical_dedup_groups(
        webtext.canonical_urls(_synth_link_html(_t(spark, sf_dir, "documents")))
    )


def q_kg_entity_provenance(spark, sf_dir):
    """Entity source-diversity (er.entity_provenance): typed mentions
    joined to the synthetic URL's registered domain — mention/doc/domain
    counts + dominant domain per entity; the corroboration table."""
    from unsupervised_ner_spark.ops import webtext
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    dd = webtext.parse_urls(_synth_urls(_t(spark, sf_dir, "documents"))).select(
        F.col("doc_id").cast("string").alias("url"), "reg_domain"
    )
    return er.entity_provenance(typed, dd)


def q_txt_domain_quality(spark, sf_dir):
    """Per-domain quality rollup: parse_urls domains joined to the
    integer doc stats + quality class + lang — ONE url-keyed join chain
    then ONE bounded domain aggregate (the crawl allow/deny-list input)."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    parsed = webtext.parse_urls(_synth_urls(d)).select("doc_id", "reg_domain")
    stats = textstats.doc_stats(d).select("doc_id", "n_tokens")
    q = textstats.quality_class(textstats.doc_stats(d))
    base = (
        d.select("doc_id", "lang")
        .join(parsed, "doc_id")
        .join(stats, "doc_id")
        .join(q, "doc_id")
    )
    return base.groupBy("reg_domain").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("quality") == "good").cast("long")).cast("long").alias("n_good"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


def q_kg_entity_ambiguity(spark, sf_dir):
    """Entity type-ambiguity dashboard (er.entity_ambiguity) off the
    production tagging pass — two cascaded bounded aggregates, no window
    (min-struct argmin picks the dominant type deterministically).

    The fixture typing is contextually stable on this corpus (0 naturally
    ambiguous surfaces measured in DuckDB before the gate was designed),
    so the gate UNIONS a deterministic doc_id-derived multi-type splice
    (the kg_conflicts precedent): every 7th doc contributes surface
    'ambi <did%5>' typed by did%3 over three types — 7 is coprime with
    both moduli, so the cycles
    give every spliced surface all three types, so the ambiguous branch,
    the argmin tie-break, and the mention totals all genuinely fire. The
    oracle replays the identical arithmetic."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    splice = d.filter(did % 7 == 0).select(
        did.cast("string").alias("url"),
        F.lit(0).cast("long").alias("sent_idx"),
        F.lit(999).cast("long").alias("mention_idx"),
        F.lit(0).cast("long").alias("begin_tok"),
        F.lit(0).cast("long").alias("end_tok"),
        F.concat(F.lit("ambi "), F.pmod(did, 5).cast("string")).alias("surface"),
        F.element_at(
            F.array(F.lit("PERSON"), F.lit("LOCATION"), F.lit("DISEASE")),
            (F.pmod(did, 3) + 1).cast("int"),
        ).alias("pred_group"),
    ).withColumn("prediction", F.col("pred_group"))
    both = typed.select(
        "url", "sent_idx", "mention_idx", "begin_tok", "end_tok",
        "surface", "pred_group", "prediction",
    ).unionByName(splice)
    return er.entity_ambiguity(both)


def q_kg_type_matrix(spark, sf_dir):
    """Type-level sentence co-occurrence matrix (er.entity_type_matrix) —
    the bounded schema-induction summary; per-sentence type table
    persisted once feeding both self-join sides."""
    from unsupervised_ner_spark.pipeline import er

    return er.entity_type_matrix(_typed_production(spark, sf_dir))


def q_kg_triple_diff(spark, sf_dir):
    """Triple-level snapshot diff (triples.triple_snapshot_diff) between
    two deterministic url-parity crawl subsets — added/removed/common
    change-data off ONE tagging pass."""
    from unsupervised_ner_spark.pipeline.triples import triple_snapshot_diff

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return triple_snapshot_diff(stages["triples"])


def q_kg_entity_salience(spark, sf_dir):
    """Per-document entity salience rank (er.entity_salience) off the
    narrow production tagging pass — the serving-layer "what is this page
    about" table; window partitions are per-document, never corpus-wide."""
    from unsupervised_ner_spark.pipeline import er

    return er.entity_salience(_typed_production(spark, sf_dir))


def q_kg_doc_yield(spark, sf_dir):
    """Per-document KG-yield dashboard (runner.doc_yield): sentence /
    mention / typed / distinct-entity / triple counts per page,
    zero-filled over the full document universe; the tagged pass is
    persisted once and feeds both the mention stats and the triples."""
    from unsupervised_ner_spark.pipeline.runner import doc_yield

    return doc_yield(_docs_as_pages(spark, sf_dir))


def _synth_urls(d: DataFrame) -> DataFrame:
    """Deterministic doc_id/source-derived URL column for the web-ingestion
    gates (the documents table carries no URL; the txt_redact splice
    precedent). Exercises every parse_urls branch: uppercase scheme/host,
    www and news subdomains, com/org/net and co.uk TLDs, explicit default
    (443) and non-default (8443) ports, empty and nested paths, query
    strings, and fragments. Replayed expression-identically by the oracle
    (oracle_sql._SYNTH_URL_SQL)."""
    did = F.col("doc_id")
    scheme = F.when(did % 5 == 0, "HTTPS").otherwise("https")
    sub = (
        F.when(did % 9 == 0, "WWW.")
        .when(did % 3 == 0, "www.")
        .when(did % 7 == 0, "news.")
        .otherwise("")
    )
    label = F.concat(F.col("source"), F.lit("-"), F.pmod(did, 23).cast("string"))
    tld = F.when(did % 4 == 0, "co.uk").otherwise(
        F.element_at(F.array(F.lit("com"), F.lit("org"), F.lit("net")), (F.pmod(did, 3) + 1).cast("int"))
    )
    port = (
        F.when(did % 11 == 0, ":8443").when(did % 13 == 0, ":443").otherwise("")
    )
    path = F.when(did % 4 == 0, "").otherwise(
        F.concat(
            F.lit("/cat"), F.pmod(did, 7).cast("string"),
            F.lit("/page-"), did.cast("string"), F.lit(".html"),
        )
    )
    query = F.when(
        did % 2 == 0, F.concat(F.lit("?utm_source=feed&id="), did.cast("string"))
    ).otherwise("")
    frag = F.when(did % 6 == 0, "#sec-2").otherwise("")
    url = F.concat(
        scheme, F.lit("://"), sub, label, F.lit("."), tld, port, path, query, frag
    )
    return d.select("doc_id", url.alias("url"))


# registered domains guaranteed to exist for any corpus with doc_id 0 and 1
# (doc 0: www.src0-0.co.uk -> src0-0.co.uk; doc 1: src1-1.org)
URL_BLOCKLIST = ("src0-0.co.uk", "src1-1.org")


def q_txt_url_parse(spark, sf_dir):
    """URL parse + normalization (webtext.parse_urls) over the
    deterministic synthetic URL column — hash-gates scheme/host
    lowercasing, port split + default-port strip, public-suffix-lite
    registered domain, path depth, and the normalized join key."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    return webtext.parse_urls(_synth_urls(d)).select(
        "doc_id", "url", "scheme", "host", "port", "reg_domain",
        "path", "path_depth", "url_norm",
    )


def q_txt_domain_stats(spark, sf_dir):
    """Per-registered-domain crawl dashboard (webtext.domain_stats) with
    the blocklist flag; the two blocklist entries are domains the URL
    synthesizer provably emits, so the true branch fires."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    return webtext.domain_stats(
        webtext.parse_urls(_synth_urls(d)), blocklist=URL_BLOCKLIST
    )


def q_txt_line_filter(spark, sf_dir):
    """C4-style line filter (webtext.filter_lines). The corpus is
    single-line and punctuation-free, so the gate builds a deterministic
    multi-line dirty view (txt_line_dedup precedent): boilerplate header
    lines that each violate ONE rule (javascript blockword, curly-brace
    JSON, too-short), the body re-wrapped into 10-word lines with a
    terminal '.' on alternating lines (so keep AND drop both fire on
    real body text), and a 'lorem ipsum' footer on every third doc."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ", -1)
    nch = F.expr("(size(split(text, ' ', -1)) + 9) div 10")
    body = F.transform(
        F.sequence(F.lit(0), nch - F.lit(1)),
        lambda i: F.concat(
            F.array_join(F.slice(words, i * 10 + 1, 10), " "),
            F.when(i % 2 == 0, ".").otherwise(""),
        ),
    )
    header = F.array(
        F.lit("Please enable JavaScript to view the comments powered here."),
        F.lit('{ "cookieConsent": true }'),
        F.lit("Home"),
    )
    footer = F.when(
        F.pmod(F.col("doc_id"), 3) == 0,
        F.array(F.lit("lorem ipsum dolor sit amet consectetur.")),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    dirty = F.array_join(F.concat(header, body, footer), "\n")
    return webtext.filter_lines(d.select("doc_id", dirty.alias("text")))


def q_txt_html_strip(spark, sf_dir):
    """General HTML stripping (webtext.strip_markup) over a deterministic
    markup wrap: title + script (with '<' inside JS) + style in head,
    heading/paragraph/self-closing tags + escaped entities in body — the
    gate proves script/style content is DROPPED while tag-free text and
    unescaped entities survive, with the tag count."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    dirty = F.concat(
        F.lit('<html><head><title>Doc '), did,
        F.lit('</title><script type="text/javascript">var a=1; if(a<2){a=3;}</script>'),
        F.lit("<style>.c{margin:0}</style></head><body><h1>Header "), did,
        F.lit('</h1><p class="b">'), F.col("text"),
        F.lit('</p><br/><div id="f">footer &amp; &lt;end&gt; &quot;fin&#39;</div></body></html>'),
    )
    return webtext.strip_markup(d.select("doc_id", dirty.alias("text")))


def q_txt_encoding(spark, sf_dir):
    """Encoding-quality detection (webtext.encoding_quality) over a
    deterministic corruption splice: mojibake digraphs on every 4th doc,
    a BEL control char on every 5th, U+FFFD on every 9th — so clean rows,
    each single signal, and combinations all appear in the gate."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    dirty = F.concat(
        F.col("text"),
        F.when(did % 4 == 0, " cafÃ© naÃ¯ve").otherwise(""),
        F.when(did % 5 == 0, " x\x07y").otherwise(""),
        F.when(did % 9 == 0, " bad�byte").otherwise(""),
    )
    return webtext.encoding_quality(d.select("doc_id", dirty.alias("text")))


def q_rel_zorder(spark, sf_dir):
    """Z-order clustering keys (ops/layout.zorder_keys): Morton interleave
    of two deterministic 10-bit dimensions (doc_id mod 1024 as the
    time-ish axis, hex8(md5(source)) mod 1024 as the domain-bucket axis)
    plus the coarse Z-cell a sort-rewrite would write as one file. The
    oracle replays the identical shift/mask term sum."""
    from unsupervised_ner_spark.ops import layout
    from unsupervised_ner_spark.ops.kgtrain import md5_int32

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod(F.col("doc_id"), 1024).cast("long").alias("dim_t"),
        F.pmod(md5_int32(F.col("source")), 1024).cast("long").alias("dim_h"),
    )
    return layout.zorder_keys(d, "dim_t", "dim_h", bits=10, cell_shift=10)


def q_rel_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (ops/layout.compaction_plan):
    per-language file lists (file = doc, bytes = octet_length(text))
    packed in file_id order into ~4 KiB rewrite groups via ONE
    per-partition cumulative-sum window — Iceberg binpack planning as a
    DataFrame instead of a driver loop."""
    from unsupervised_ner_spark.ops import layout

    files = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("part"),
        F.col("doc_id").cast("long").alias("file_id"),
        F.octet_length("text").cast("long").alias("bytes"),
    )
    return layout.compaction_plan(files, target_bytes=4096)


def q_rel_merge_upsert(spark, sf_dir):
    """CDC MERGE application (ops/layout.merge_upsert): a deterministic
    change batch (delete every 7th doc; bump n_tokens on every 5th-not-7th;
    insert an offset copy of every 11th) applied to the documents snapshot
    with one full-outer key join; action column audits kept/updated/
    inserted and deleted keys emit no row."""
    from unsupervised_ner_spark.ops import layout

    d = _t(spark, sf_dir, "documents")
    target = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.size(F.split(F.col("text"), r"\s+", -1)).cast("long").alias("n_tokens"),
    )
    did = F.col("doc_id")
    deletes = target.filter(did % 7 == 0).select(
        "doc_id", "lang", "n_tokens", F.lit("D").alias("op")
    )
    updates = target.filter((did % 5 == 0) & (did % 7 != 0)).select(
        "doc_id", "lang",
        (F.col("n_tokens") + 1).cast("long").alias("n_tokens"),
        F.lit("U").alias("op"),
    )
    inserts = target.filter(did % 11 == 0).select(
        (did + 10_000_000).cast("long").alias("doc_id"),
        "lang", "n_tokens", F.lit("U").alias("op"),
    )
    changes = deletes.unionByName(updates).unionByName(inserts)
    return layout.merge_upsert(target, changes, "doc_id")


def q_txt_hot_keys(spark, sf_dir):
    """Shuffle-key skew diagnostics (ops/layout.skew_report) over the
    lowercased token stream — the pre-flight hot-key profile ('the' and
    friends dominate) that decides where salting / AQE skew handling is
    needed; exact integer ppm shares, deterministic ties."""
    from unsupervised_ner_spark.ops import layout
    from unsupervised_ner_spark.ops.textstats import tokens_ws

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(tokens_ws(F.col("text"))).alias("tok")
    ).select(F.lower(F.col("tok")).alias("tok"))
    return layout.skew_report(toks, "tok", top_k=20, hot_ppm=10_000)


def q_txt_url_templates(spark, sf_dir):
    """URL path-template mining (webtext.url_templates): digit runs in
    parsed paths collapse to 'N' ('/cat3/page-41.html' ->
    '/catN/page-N.html'), aggregated per registered domain — the
    template-spam detector; deterministic min-doc sample per template."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    return webtext.url_templates(webtext.parse_urls(_synth_urls(d)))


def q_kg_tagger_agreement(spark, sf_dir):
    """Inter-tagger agreement (ops/kgtrain.tagger_agreement): token-level
    confusion matrix between the production BIO tagger and the v1
    text-mode ensemble tagger, with integer Cohen's-kappa sufficient
    statistics (marginals + total) over the bounded |tagset|^2 matrix."""
    from unsupervised_ner_spark.ops.kgtrain import tagger_agreement
    from unsupervised_ner_spark.pipeline.ensemble_v1 import ensemble_v1_tags

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    tags_a = stages["tags"].select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("token_idx").cast("long").alias("token_idx"),
        "tag",
    )
    tags_b = ensemble_v1_tags(_sentences(spark, sf_dir)).select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("token_idx").cast("long").alias("token_idx"),
        "tag",
    )
    return tagger_agreement(tags_a, tags_b)


def q_kg_type_priors(spark, sf_dir):
    """Corpus-prior type disambiguation (er.type_prior_resolution):
    surfaces assigned >1 type across the corpus, majority type with
    deterministic ties — the broadcastable prior table for entity
    linking. Production typed mentions are unioned with a deterministic
    doc_id-derived splice (the kg_conflicts precedent) so ambiguous
    surfaces provably exist in the word-salad corpus."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir).select(
        "url", "sent_idx", "surface", "pred_group"
    )
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    splice = d.select(
        did.cast("string").alias("url"),
        F.lit(9_999).cast("long").alias("sent_idx"),
        F.concat(F.lit("Amb"), F.pmod(did, 5).cast("string")).alias("surface"),
        F.when(did % 3 == 0, "PERSON")
        .when(did % 3 == 1, "LOCATION")
        .otherwise("ORG")
        .alias("pred_group"),
    )
    return er.type_prior_resolution(typed.unionByName(splice))


def q_kg_cooccurrence_delta(spark, sf_dir):
    """Incremental view maintenance of the co-occurrence edge table
    (er.cooccurrence_edges_incremental): the corpus split into url-disjoint
    old/delta batches (url mod 10), edges computed per batch and MERGED —
    the oracle recomputes from scratch, so the hash gate proves
    merge(old, delta) == full recompute exactly."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    is_delta = F.pmod(F.col("url").cast("long"), 10) == 0
    return er.cooccurrence_edges_incremental(
        typed.filter(~is_delta), typed.filter(is_delta)
    )


def q_txt_warc_records(spark, sf_dir):
    """WET-archive roundtrip (webtext.build_wet_files ->
    parse_wet_records): documents packed 10-per-file into WARC/1.0
    record blobs, then parsed back by Content-Length cut — the CC-style
    ingest parser, map-only string expressions."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    return webtext.parse_wet_records(webtext.build_wet_files(d))


def q_txt_robots_check(spark, sf_dir):
    """Robots-exclusion decisions (webtext.robots_rules +
    robots_allowed): RFC 9309 longest-match (Allow wins ties) against the
    deterministic per-host rule table; URLs with no matching prefix
    (empty-path synth URLs) default to allowed."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    parsed = webtext.parse_urls(_synth_urls(d))
    return webtext.robots_allowed(parsed, webtext.robots_rules(parsed))


def q_rel_snapshot_expiry(spark, sf_dir):
    """Snapshot retention planning (ops/layout.snapshot_expiry):
    keep-last-5 by snapshot id + each day's first snapshot (day =
    snap_id div 10); everything else flagged expirable."""
    from unsupervised_ner_spark.ops import layout

    snaps = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("snap_id"),
        F.expr("CAST(doc_id AS BIGINT) div 10").alias("day"),
    )
    return layout.snapshot_expiry(snaps, keep_last=5)


def q_mm_audio_windows(spark, sf_dir):
    """Audio analysis-window planning (multimodal.audio_windows) over
    deterministic length metadata (n_samples = 8000 + 131*strlen(text)
    mod 160000 at 16 kHz): 1 s windows, 0.5 s hop, short clips emit zero
    rows — metadata-only, decode stays behind the mapInPandas seam."""
    from unsupervised_ner_spark.ops import multimodal

    meta = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (
            (F.octet_length("text").cast("long") * 131) % 160000 + 8000
        ).alias("n_samples"),
        F.lit(16000).cast("long").alias("sample_rate"),
    )
    return multimodal.audio_windows(meta, win=16000, hop=8000)


def q_kg_bfs_dist(spark, sf_dir):
    """Multi-source BFS distances (er.bfs_distances): hop distance from
    the 3 highest-degree entities after 3 synchronous relaxation rounds
    over the persisted-once symmetrized co-occurrence adjacency; oracle
    unrolls the identical rounds."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.bfs_distances(er.cooccurrence_edges(typed), rounds=3, n_seeds=3)


def q_kg_anf(spark, sf_dir):
    """ANF / HyperBall neighborhood-function sketches (er.anf_registers):
    per-node 16-register HLL of the r-hop ball for r = 0..2 by iterated
    register max-merge over the co-occurrence graph; hashed surface is
    the integer sufficient statistics (n_present, sum_pow) — the float
    ball-size estimate is the derived er.anf_estimate, never hashed."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.anf_registers(er.cooccurrence_edges(typed), rounds=2)


def q_kg_mis(spark, sf_dir):
    """Maximal independent set (er.maximal_independent_set): Luby-style
    parallel greedy with deterministic md5 priorities over the
    co-occurrence graph — per round, (priority, key)-local-minimum
    undecided nodes join the MIS and their undecided neighbors are
    excluded; 3 unrolled rounds, remaining nodes reported 'open'. The
    output is a maximal set of pairwise never-co-occurring entities."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.maximal_independent_set(er.cooccurrence_edges(typed), rounds=3)


def q_kg_densest(spark, sf_dir):
    """Densest-subgraph approximation (er.densest_subgraph_peel): 4
    Bahmani-et-al parallel peel rounds with eps = 0.1 over the
    co-occurrence graph; exact integer cross-multiplied peel test and
    exact-fraction best-snapshot argmax — the KG hairball / hot-subtopic
    detector."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.densest_subgraph_peel(er.cooccurrence_edges(typed), rounds=4)


def q_txt_max_coverage(spark, sf_dir):
    """Greedy max-coverage document selection (curation.
    max_coverage_select): the 5 documents that together cover the most
    distinct typed entities, picked one at a time by marginal gain —
    the submodular (1-1/e) curation primitive; deterministic
    (gain DESC, url ASC) tie-break replayed by the oracle."""
    from unsupervised_ner_spark.ops import curation

    occ = _occurrences_production(spark, sf_dir)
    pairs = occ.select(
        "url", F.concat_ws("|", "norm_surface", "etype").alias("ent")
    )
    return curation.max_coverage_select(pairs, k=5)


def q_kg_coreness(spark, sf_dir):
    """Full core-number decomposition (er.coreness_hindex): iterated
    neighborhood H-index (degree init, 3 synchronous rounds) — the
    parallel form of the sequential k-core peel, converging pointwise
    to the exact core number; complements the fixed-k kg_kcore
    filter."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.coreness_hindex(er.cooccurrence_edges(typed), rounds=3)


# a day with nonzero interval coverage at BOTH gate scales (measured in
# DuckDB: 3 facts at sf0.001, 4 at sf0.01) so the as-of gate is not vacuous
ASOF_DAY = 19799


def q_kg_asof_snapshot(spark, sf_dir):
    """Temporal as-of query (triples.facts_asof): the KG snapshot valid
    on ASOF_DAY, reconstructed from the SCD2 interval table by one
    covering-interval filter — no per-day snapshot storage."""
    from unsupervised_ner_spark.pipeline import triples as T

    intervals = q_kg_fact_intervals(spark, sf_dir)
    return T.facts_asof(intervals, ASOF_DAY)


def q_kg_quotations(spark, sf_dir):
    """Quotation attribution (triples.extract_quotations): (speaker,
    quote) pairs from post-posed ('"...," said Name.') and pre-posed
    ('Name said, "..."') reporting frames; a deterministic doc_id-derived
    splice guarantees both frames exist in the word-salad corpus (the
    Hearst splice precedent), and real sentences prove the no-quote path
    emits nothing."""
    from unsupervised_ner_spark.pipeline import triples as T

    sents = _sentences(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    name = F.element_at(
        F.array(F.lit("Alice"), F.lit("Bob Marley"), F.lit("Carol"), F.lit("Dan")),
        (F.pmod(did, 4) + 1).cast("int"),
    )
    qtext = F.concat(F.lit("claim "), did.cast("string"))
    sent = F.when(
        did % 2 == 0,
        F.concat(F.lit('"'), qtext, F.lit('," said '), name, F.lit(".")),
    ).otherwise(F.concat(name, F.lit(' said, "'), qtext, F.lit('."')))
    splice = d.select(
        did.cast("string").alias("url"),
        F.lit(9001).cast("long").alias("sent_idx"),
        sent.alias("sent"),
    )
    return T.extract_quotations(sents.unionByName(splice))


def q_rel_profile(spark, sf_dir):
    """One-pass column profiler (curation.column_profile) over lineitem's
    integer/string columns: row/null/distinct counts + min/max strings —
    the per-batch data-quality summary."""
    from unsupervised_ner_spark.ops.curation import column_profile

    li = _t(spark, sf_dir, "lineitem")
    return column_profile(
        li, ["l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus"]
    )


def q_er_components_delta(spark, sf_dir):
    """Incremental connected-components maintenance
    (er.components_incremental): LSH edges split 4:1 into old/delta
    batches (xxhash mod 5), old batch resolved to labels, each old
    component compressed to its star certificate, delta folded in via one
    more star-CC run. The oracle is the FULL-edge-set fixpoint
    (er_components's RECURSIVE CTE), so the hash gate proves
    incremental == full recompute."""
    from unsupervised_ner_spark.caching import scoped_persist
    from unsupervised_ner_spark.pipeline import er

    occ = _occurrences_production(spark, sf_dir)
    nodes = scoped_persist(er.exact_canonical(occ))
    edges = scoped_persist(er.fuzzy_edges(nodes))  # feeds both split branches
    is_delta = F.pmod(F.xxhash64("node_a", "node_b"), F.lit(5)) == 0
    old_labels, _ = er.connected_components_star(
        nodes.select("node_id"), edges.filter(~is_delta)
    )
    labels, _ = er.components_incremental(
        nodes.select("node_id"), old_labels, edges.filter(is_delta)
    )
    merged = nodes.join(labels, "node_id")
    return (
        merged.groupBy("component", "etype")
        .agg(
            F.sum("n_mentions").cast("long").alias("n_mentions"),
            F.min_by(
                "canonical_surface",
                F.struct(F.col("n_mentions") * -1, F.col("canonical_surface")),
            ).alias("canonical_surface"),
        )
        .select(
            F.col("component").alias("entity_id"), "etype",
            "canonical_surface", "n_mentions",
        )
    )


def q_mm_video_scenes(spark, sf_dir):
    """Scene segmentation (multimodal.scene_segments): shot boundaries
    where consecutive sampled-frame signatures (32-bit hash prefixes)
    differ by >= 10 bits — gaps-and-islands windows per doc over the
    frame_sample table; oracle replays signature, lag, bit_count."""
    from unsupervised_ner_spark.ops import multimodal

    docs = _t(spark, sf_dir, "documents")
    frames = multimodal.frame_sample(multimodal.synth_media(docs))
    return multimodal.scene_segments(frames, hamming_threshold=10)


# the zone-map probe box: mid-range rectangle over both 10-bit dims
ZQ_BOX = (100, 300, 200, 600)


def q_rel_zone_map(spark, sf_dir):
    """Zone-map pruning statistics (ops/layout.zone_map) over the Z-order
    cells of rel_zorder: per-cell min/max of both dims + the min/max-
    overlap flag against a fixed probe box — cells with overlaps=false
    are the files a clustered scan skips."""
    from unsupervised_ner_spark.ops import layout

    return layout.zone_map(q_rel_zorder(spark, sf_dir), *ZQ_BOX)


def q_kg_doc_cooccurrence(spark, sf_dir):
    """Document-level entity co-occurrence (er.doc_cooccurrence_edges):
    the coarser sibling of kg_cooccurrence — entities mentioned anywhere
    in the same page; per-doc distinct entity table persisted once,
    url-keyed pairing."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.doc_cooccurrence_edges(typed)


def q_txt_vocab_coverage(spark, sf_dir):
    """Tokenizer-budget dashboard (textstats.vocab_coverage): token mass
    covered by the top-k vocabulary types at k in {100, 1000, 4000},
    scaled-ppm integers, ranked-vocab table persisted once."""
    from unsupervised_ner_spark.ops.textstats import vocab_coverage

    return vocab_coverage(_t(spark, sf_dir, "documents"))


def q_er_anchor_aliases(spark, sf_dir):
    """Web-derived alias candidates (er.anchor_entity_aliases): anchor
    texts matching canonical entity surfaces. Real page anchors prove the
    no-match path (markup aliases never normalize onto word-salad
    surfaces); a deterministic kb-style splice — one anchor per entity
    node with n_mentions >= 5, text = its canonical surface — exercises
    the match path on both engines."""
    from unsupervised_ner_spark.caching import scoped_persist
    from unsupervised_ner_spark.ops import webtext
    from unsupervised_ner_spark.pipeline import er

    occ = _occurrences_production(spark, sf_dir)
    nodes = scoped_persist(er.exact_canonical(occ))
    ast = webtext.anchor_text_stats(
        webtext.extract_anchors(_synth_link_html(_t(spark, sf_dir, "documents")))
    )
    kb = nodes.filter(F.col("n_mentions") >= 5).select(
        F.concat(F.lit("https://kb.example/"), F.col("norm_surface")).alias("link_url"),
        F.col("canonical_surface").alias("anchor_norm"),
        F.lit(1).cast("long").alias("n_anchors"),
        F.lit(1).cast("long").alias("n_pages"),
    )
    return er.anchor_entity_aliases(ast.unionByName(kb), nodes).select(
        "norm_surface", "etype", "node_id", "link_url",
        F.col("n_anchors").cast("long").alias("n_anchors"),
        F.col("n_pages").cast("long").alias("n_pages"),
    )


def q_kg_hits(spark, sf_dir):
    """HITS hubs/authorities on the directed canonical triple graph
    (er.hits): 2 unrolled integer power rounds with max-renormalization
    over the distinct subj_id->obj_id edge list — the direction-aware
    complement of kg_pagerank (authorities = entities facts point AT);
    oracle unrolls the identical half-steps."""
    from unsupervised_ner_spark.pipeline import er

    return er.hits(
        er.triple_support(q_kg_canonical_triples(spark, sf_dir)), rounds=2
    )


def q_kg_landmark_centrality(spark, sf_dir):
    """Per-landmark closeness profile (er.landmark_centrality): the 3
    top-degree entities each run their OWN 3-round BFS (frontier keyed
    (seed, node), unlike the min-merged kg_bfs_dist) and report reach,
    integer harmonic closeness, and bounded eccentricity."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.landmark_centrality(
        er.cooccurrence_edges(typed), rounds=3, n_seeds=3
    )


def q_kg_modularity(spark, sf_dir):
    """Per-community Newman modularity contribution (er.modularity): the
    LPA communities of kg_communities scored against the degree-preserving
    null model in exact integer ppm — the clustering-quality dashboard;
    oracle replays the unrolled LPA rounds + the same integer arithmetic."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.modularity(er.cooccurrence_edges(typed), iterations=4)


def q_kg_kge_eval(spark, sf_dir):
    """TransE filtered-ranking eval harness (kgtrain.kge_eval): every
    distinct production triple ranked against its type-blocked candidate
    set under deterministic hash embeddings — per-predicate MR/Hits@k
    sufficient statistics; swap in trained vectors and the protocol is
    unchanged."""
    from unsupervised_ner_spark.ops import kgtrain

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return kgtrain.kge_eval(stages["triples"], dim=4, emb_mod=1000)


def q_kg_kge_distmult(spark, sf_dir):
    """DistMult (bilinear) filtered-ranking eval (kgtrain.kge_eval with
    score_fn="distmult"): the multiplicative KGE family under the
    identical filtered protocol — product score ranked DESC via its
    negation, so the two families' MR/Hits@k are directly comparable."""
    from unsupervised_ner_spark.ops import kgtrain

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return kgtrain.kge_eval(
        stages["triples"], dim=4, emb_mod=1000, score_fn="distmult"
    )


def q_kg_kge_complex(spark, sf_dir):
    """ComplEx filtered-ranking eval (kgtrain.kge_eval with
    score_fn="complex"): the complex-valued bilinear family (Trouillon
    et al. 2016) under the identical filtered protocol — the imaginary
    relation component makes the score asymmetric in (subject, object),
    the capability DistMult lacks; ranked DESC via negation so the same
    ascending window serves all three families."""
    from unsupervised_ner_spark.ops import kgtrain

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return kgtrain.kge_eval(
        stages["triples"], dim=4, emb_mod=1000, score_fn="complex"
    )


def q_er_pair_features(spark, sf_dir):
    """ER pairwise feature table (er.pair_features): phonetic-blocked
    candidate pairs with the Magellan-style integer similarity vector
    (levenshtein / lengths / token overlap / shingle-Jaccard stats) —
    the training input of an ER match classifier; same misspelling
    splice as er_phonetic_pairs so buckets provably pair."""
    from unsupervised_ner_spark.pipeline import er

    occ = _occurrences_production(spark, sf_dir)
    surf = occ.select("norm_surface")
    variants = surf.filter(
        (F.length("norm_surface") >= 5)
        & F.col("norm_surface").rlike("^.[^a]*a")
    ).select(
        F.regexp_replace("norm_surface", "^(.[^a]*)a", "$1e").alias(
            "norm_surface"
        )
    )
    return er.pair_features(surf.unionByName(variants))


PATH_SPLICE_A = ["hub0", "hub0", "via-a", "via-b", "mid1", "mid1", "out-a", "out-b"]
PATH_SPLICE_B = ["via-a", "via-b", "mid1", "mid1", "out-a", "out-b", "mid2", "mid2"]


def q_kg_path_counts(spark, sf_dir):
    """Landmark shortest-path counts (er.landmark_path_counts): Brandes'
    forward sigma sweep from the 3 top-degree entities, 3 level-
    synchronous rounds — hop distance AND exact shortest-path multiplicity
    per reached node; oracle unrolls the same frontier/anti-join rounds.

    Gate splice (the kg_conflicts protocol — measured in DuckDB first:
    the word-salad co-occurrence graph is star-sparse, max degree 4/6 at
    sf0.001/0.01, so every natural sigma is 1 and BFS dies at depth 1):
    a doc_id-derived 'SPL'-typed diamond ladder — a 12-leaf hub (degree
    14 > any corpus node, so it IS seed 1) feeding two parallel 2-paths
    into mid1 and onward — makes sigma=2 at depths 2-3, rounds 2-3
    anti-joins, and the beyond-horizon cutoff (mid2 at dist 4) all
    provably fire; corpus nodes still fill seeds 2-3."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    leaves = d.select(
        F.lit("hub0").alias("ent_a"),
        F.concat(F.lit("leaf"), F.pmod(did, 12).cast("string")).alias("ent_b"),
    ).distinct()
    pat = d.select(
        F.element_at(
            F.array(*[F.lit(x) for x in PATH_SPLICE_A]),
            (F.pmod(did, 8) + 1).cast("int"),
        ).alias("ent_a"),
        F.element_at(
            F.array(*[F.lit(x) for x in PATH_SPLICE_B]),
            (F.pmod(did, 8) + 1).cast("int"),
        ).alias("ent_b"),
    ).distinct()
    splice = leaves.unionByName(pat).select(
        "ent_a", F.lit("SPL").alias("type_a"),
        "ent_b", F.lit("SPL").alias("type_b"),
        F.lit(1).cast("long").alias("n_sents"),
        F.lit(1).cast("long").alias("n_docs"),
    )
    edges = er.cooccurrence_edges(typed).unionByName(splice)
    return er.landmark_path_counts(edges, rounds=3, n_seeds=3)


def q_er_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood ER blocking (er.sorted_neighborhood_pairs):
    banded lexicographic rank + window-3 neighbor pairing + Levenshtein
    verify. The vocabulary is UNIONed with an 'x'-suffix splice (surfaces
    >= 5 chars): suffix variants sort ADJACENTLY to their source at edit
    distance 1 — the phonetic splice is vowel-keyed and would not sort
    nearby — measured first (269/264 verified pairs, gaps 1..3, at
    sf0.001/0.01), so the gate exercises rank pairing + verify rather
    than an empty pass."""
    from unsupervised_ner_spark.pipeline import er

    occ = _occurrences_production(spark, sf_dir)
    surf = occ.select("norm_surface")
    variants = surf.filter(F.length("norm_surface") >= 5).select(
        F.concat(F.col("norm_surface"), F.lit("x")).alias("norm_surface")
    )
    return er.sorted_neighborhood_pairs(
        surf.unionByName(variants), window=3, max_lev=2
    )


def q_kg_betweenness(spark, sf_dir):
    """Landmark-sampled betweenness centrality (er.landmark_betweenness):
    Brandes' backward dependency accumulation over the SAME spliced graph
    as kg_path_counts — the diamond ladder guarantees sigma=2 nodes so the
    fractional ``sigma_v * (scale + delta_w) div sigma_w`` term provably
    fires with sigma_w > sigma_v (measured: bc('via-a') lands at half-ppm
    values a sigma-1 chain cannot produce)."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    leaves = d.select(
        F.lit("hub0").alias("ent_a"),
        F.concat(F.lit("leaf"), F.pmod(did, 12).cast("string")).alias("ent_b"),
    ).distinct()
    pat = d.select(
        F.element_at(
            F.array(*[F.lit(x) for x in PATH_SPLICE_A]),
            (F.pmod(did, 8) + 1).cast("int"),
        ).alias("ent_a"),
        F.element_at(
            F.array(*[F.lit(x) for x in PATH_SPLICE_B]),
            (F.pmod(did, 8) + 1).cast("int"),
        ).alias("ent_b"),
    ).distinct()
    splice = leaves.unionByName(pat).select(
        "ent_a", F.lit("SPL").alias("type_a"),
        "ent_b", F.lit("SPL").alias("type_b"),
        F.lit(1).cast("long").alias("n_sents"),
        F.lit(1).cast("long").alias("n_docs"),
    )
    edges = er.cooccurrence_edges(typed).unionByName(splice)
    return er.landmark_betweenness(edges, rounds=3, n_seeds=3)


def q_kg_motif_census(spark, sf_dir):
    """Typed triangle-motif census (er.motif_census): the heterogeneous-
    graphlet rollup of the triangle table keyed by the sorted type
    multiset — the schema-level cohesion dashboard."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.motif_census(er.triangles(er.cooccurrence_edges(typed)))


def q_kg_ego_export(spark, sf_dir):
    """K-hop ego-network export (er.ego_subgraph): the induced 2-hop
    subgraph around the top-PageRank entity with endpoint distances —
    the KG serving primitive; root selection composes the integer
    pagerank so the export is bit-reproducible."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.ego_subgraph(er.cooccurrence_edges(typed), hops=2)


def q_kg_local_bridges(spark, sf_dir):
    """Local bridges / weak ties (er.local_bridges): every co-occurrence
    edge with its triangle support and the zero-triangle bridge flag —
    where the KG is one bad extraction away from merging communities."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.local_bridges(er.cooccurrence_edges(typed))


def q_txt_budget_select(spark, sf_dir):
    """Token-budget data selection (textstats.budget_select): docs in
    (lm-quality desc, doc_id) order accumulate tokens via the two-level
    banded prefix sum (no global single-partition sort over the corpus);
    selected while within half the corpus's tokens."""
    return textstats.budget_select(_t(spark, sf_dir, "documents"))


def q_txt_gopher_flags(spark, sf_dir):
    """Gopher-style named quality rules (textstats.gopher_flags): per-doc
    integer pass/fail per rule + conjunction keep; thresholds calibrated
    so every varying rule fires both ways at both gate scales (measured
    first — the kg_conflicts protocol)."""
    return textstats.gopher_flags(_t(spark, sf_dir, "documents"))


def q_kg_sameas(spark, sf_dir):
    """owl:sameAs RDF export of the ER resolution (er.sameas_ntriples):
    every alias surface links to its canonical entity URI — the linked-
    data deliverable beside kg_ntriples; rides the same persisted tagging
    chain as the other ER queries."""
    from unsupervised_ner_spark.pipeline import er

    _triples, occ, membership = _resolved_production(spark, sf_dir)
    return er.sameas_ntriples(er.entity_aliases(occ, membership))


def q_ann_kmeans_update(spark, sf_dir):
    """One distributed Lloyd (k-means) update over the adaptive IVF
    codebook (simsearch.kmeans_update): per-cell member counts + integer-
    quantized component sums — the index-training step behind IVF/PQ;
    output bounded by k x d."""
    from unsupervised_ner_spark.ops import simsearch

    return simsearch.kmeans_update(_t(spark, sf_dir, "embeddings"))


def q_kg_pred_signatures(spark, sf_dir):
    """Predicate domain/range signature induction
    (triples.predicate_signatures): per-predicate type-pair counts,
    deterministic signature rank, modal flag, and the integer majority-
    dominance rule — the ontology-induction dashboard; measured at both
    gate scales so both flag branches fire."""
    from unsupervised_ner_spark.pipeline.triples import predicate_signatures

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return predicate_signatures(stages["triples"])


def q_txt_sitemaps(spark, sf_dir):
    """Sitemap-protocol ingestion (webtext.build_sitemaps +
    parse_sitemaps): deterministic per-host XML sitemaps parsed back to
    (loc, lastmod, changefreq, priority_pct) rows — the crawl-scheduler
    input beside robots_check and crawl_frontier."""
    from unsupervised_ner_spark.ops import webtext

    d = _t(spark, sf_dir, "documents")
    return webtext.parse_sitemaps(webtext.build_sitemaps(d))


def q_kg_relation_candidates(spark, sf_dir):
    """Distant-supervision relation candidates (triples.relation_candidates,
    Mintz et al. 2009): every ordered same-sentence typed-mention pair
    left-joined against the KB aggregated from the engine's own triple
    stream — silver labels for relation-extraction training, 'NA' for the
    no-relation class. Both inputs flatten the SAME persisted tagging pass
    (the kg_canonical_triples precedent)."""
    from unsupervised_ner_spark.caching import scoped_persist
    from unsupervised_ner_spark.pipeline import triples as T
    from unsupervised_ner_spark.pipeline.runner import typed_mentions_from_tagged

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    tagged = scoped_persist(stages["tagged"])
    typed = typed_mentions_from_tagged(tagged)
    return T.relation_candidates(typed, stages["triples"])


def _scc_splice_edges(spark, sf_dir):
    """Deterministic doc_id-derived DIRECTED edge splice for the SCC gate
    (the _recip_splice_triples rationale — the word-salad triple graph is
    acyclic, measured 0 multi-node SCCs at sf0.001/0.01): group
    a = (doc_id DIV 6) %% 4, branch m = doc_id %% 6 emits per group a
    3-cycle z{a}-c0 -> z{a}-c1 -> z{a}-c2 -> z{a}-c0 (the multi-node
    SCC), an outlet z{a}-c0 -> m{a}-out (same color class as the cycle,
    retires only in OUTER round 2 — the round-2 branch witness), an
    intake a{a}-in -> z{a}-c1 (own color class, lexicographically below
    the cycle so the cycle's color stays internal), and a DAG pair
    g{a}-p -> g{a}-q (singleton SCCs)."""
    docs = _t(spark, sf_dir, "documents")
    a = (F.expr("doc_id DIV 6") % 4).cast("string")
    m = (F.col("doc_id") % 6 + 1).cast("int")

    def pick(pre, post):
        return F.element_at(
            F.array(*[F.concat(F.lit(p), a, F.lit(s)) for p, s in zip(pre, post)]),
            m,
        )

    src = pick(
        ["z", "z", "z", "z", "a", "g"],
        ["-c0", "-c1", "-c2", "-c0", "-in", "-p"],
    )
    dst = pick(
        ["z", "z", "z", "m", "z", "g"],
        ["-c1", "-c2", "-c0", "-out", "-c1", "-q"],
    )
    return docs.select(src.alias("src"), dst.alias("dst"))


def q_kg_scc(spark, sf_dir):
    """Strongly connected components (er.scc_coloring — Orzan coloring /
    FW-BW): distinct directed triple edges UNION the deterministic cycle
    splice; 2 outer rounds of (3 forward max-color merges, pivot filter,
    3 same-color backward reach steps). The cyclic-knowledge detector a
    DAG-assuming downstream (taxonomy, topo order) needs first."""
    from unsupervised_ner_spark.pipeline import er

    pages = _docs_as_pages(spark, sf_dir)
    trip = run_pipeline(pages, lang_filter=None)["triples"]
    edges = (
        trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .unionByName(_scc_splice_edges(spark, sf_dir))
        .distinct()
    )
    return er.scc_coloring(edges, inner_rounds=3, outer_rounds=2)


def q_kg_sssp(spark, sf_dir):
    """Weighted single-source shortest paths (er.sssp_weighted): 4
    Bellman-Ford relaxations from the hub entity over the co-occurrence
    graph with the integer tie-strength metric w = max(1, 4 - n_sents)."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.sssp_weighted(er.cooccurrence_edges(typed), rounds=4)


def q_kg_butterflies(spark, sf_dir):
    """Bipartite butterfly (4-cycle) counts per entity over the
    document-entity incidence graph (er.butterflies): C(shared_docs, 2)
    per co-document entity pair, aggregated per entity — the bipartite
    cohesion / templated-spam signal."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.butterflies(er.doc_cooccurrence_edges(typed))


def q_txt_textrank(spark, sf_dir):
    """TextRank keyword extraction (textstats.textrank_keywords —
    Mihalcea & Tarau 2004): integer weighted PageRank over the
    word_pmi_stats window co-occurrence graph, global top-20 with
    deterministic ties."""
    return textstats.textrank_keywords(_t(spark, sf_dir, "documents"))


def q_er_em_weights(spark, sf_dir):
    """Fellegi-Sunter m/u weight sufficient statistics (er.fs_weights)
    over the er_pair_features channel (same misspelling splice):
    rule-seeded match label, four binarized agreement features —
    the probabilistic record-linkage scoring table."""
    from unsupervised_ner_spark.pipeline import er

    return er.fs_weights(q_er_pair_features(spark, sf_dir))


def q_kg_msf(spark, sf_dir):
    """Borůvka minimum spanning forest (er.boruvka_msf, 2 rounds) over
    the co-occurrence graph with integer dissimilarity
    1000000 div n_sents — single-linkage clustering's dendrogram
    skeleton without the quadratic similarity matrix."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.boruvka_msf(er.cooccurrence_edges(typed), rounds=2)


def q_kg_taxonomy_depth(spark, sf_dir):
    """Ontology depth layering (taxonomy.taxonomy_depth) over the capped
    Hearst is-a closure: per-node longest root-path depth + distinct
    root-ancestor count; roots report (0, 0)."""
    from unsupervised_ner_spark.pipeline.taxonomy import (
        hearst_hypernyms,
        taxonomy_closure,
        taxonomy_depth,
    )

    return taxonomy_depth(
        taxonomy_closure(hearst_hypernyms(_hearst_sentences(spark, sf_dir)),
                         max_hops=8)
    )


def q_txt_bm25(spark, sf_dir):
    """BM25 ranked retrieval (textstats.bm25_topk): top-10 docs for the
    fixed query terms under k1=1.2, b=0.75 with the 9dp-integer score
    (the txt_tfidf determinism precedent)."""
    return textstats.bm25_topk(_t(spark, sf_dir, "documents"))


def q_dedup_ppjoin(spark, sf_dir):
    """Exact all-pairs Jaccard-threshold join via prefix filtering
    (dedup.ppjoin_pairs — SSJoin/PPJoin/Vernica et al.): complete at
    tau = 0.5 with NO false negatives, the exactness complement of the
    df-capped dedup_jaccard channel."""
    return dedup.ppjoin_pairs(_t(spark, sf_dir, "documents"))


def q_kg_condensation(spark, sf_dir):
    """SCC condensation DAG (er.scc_condensation): the acyclic quotient
    of the directed triple graph — resolved nodes contract to their
    scc_id, horizon-opens stand as singletons; same edge set + cycle
    splice as kg_scc."""
    from unsupervised_ner_spark.pipeline import er

    pages = _docs_as_pages(spark, sf_dir)
    trip = run_pipeline(pages, lang_filter=None)["triples"]
    edges = (
        trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .unionByName(_scc_splice_edges(spark, sf_dir))
        .distinct()
    )
    return er.scc_condensation(edges, inner_rounds=3, outer_rounds=2)


def q_kg_bowtie(spark, sf_dir):
    """Web bow-tie decomposition (er.bowtie_classes — Broder et al. 2000):
    CORE = largest SCC of the directed triple graph (+ cycle splice, the
    kg_scc edge set), IN/OUT via 6-round frontier BFS sweeps, horizon
    artifacts surfaced as 'loop' instead of silently folded."""
    from unsupervised_ner_spark.pipeline import er

    pages = _docs_as_pages(spark, sf_dir)
    trip = run_pipeline(pages, lang_filter=None)["triples"]
    edges = (
        trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .unionByName(_scc_splice_edges(spark, sf_dir))
        .distinct()
    )
    return er.bowtie_classes(
        edges, inner_rounds=3, outer_rounds=2, reach_rounds=6
    )


def q_kg_rpq(spark, sf_dir):
    """Regular path query p/q* (er.rpq_two_step — the SPARQL 1.1 property
    path): p, q = the two most frequent normalized predicates derived from
    the data (count DESC, pred ASC), Kleene closure via min-plus doubling
    capped at 8 q-hops; the oracle replays it as a depth-capped RECURSIVE
    CTE."""
    from unsupervised_ner_spark.pipeline import er

    pages = _docs_as_pages(spark, sf_dir)
    trip = run_pipeline(pages, lang_filter=None)["triples"]
    return er.rpq_two_step(
        trip.select("subj", F.col("pred_norm").alias("pred"), "obj"),
        max_hops=8,
    )


def _simrank_splice_edges(spark, sf_dir):
    """Deterministic doc_id-derived edge splice for the SimRank gate (the
    _scc_splice_edges rationale — the organic triple graph has almost no
    shared-in-neighbor structure: 1 pair at sf0.01, 0 at sf0.001): group
    g = (doc_id DIV 9) %% 3, branch m = doc_id %% 9 emits per group the
    three-tier gadget p1/p2/p3 -> sA/sB (the classic partial-overlap
    bipartite core: s1(sA,sB) = 266666), r -> y1/y2 (full overlap:
    s1 = 800000), and y1 -> q1 / y2 -> q2 — the pair with NO common
    in-neighbor (s1_ppm = 0) whose s2_ppm = 640000 comes ONLY from
    iteration 2 propagating s1(y1, y2): the branch witness that the
    second iteration genuinely runs."""
    docs = _t(spark, sf_dir, "documents")
    g = (F.expr("doc_id DIV 9") % 3).cast("string")
    m = (F.col("doc_id") % 9 + 1).cast("int")

    def pick(names):
        return F.element_at(
            F.array(*[F.concat(F.lit("sr"), g, F.lit("-" + n)) for n in names]),
            m,
        )

    src = pick(["p1", "p1", "p2", "p2", "p3", "r", "r", "y1", "y2"])
    dst = pick(["sA", "sB", "sA", "sB", "sA", "y1", "y2", "q1", "q2"])
    return docs.select(src.alias("src"), dst.alias("dst"))


def q_kg_simrank(spark, sf_dir):
    """SimRank, two exact iterations (er.simrank_two_iter — Jeh & Widom
    KDD'02) over the directed triple graph + the three-tier gadget splice:
    structural-equivalence similarity from shared in-neighborhoods, relay
    roles gated by the shared adaptive cube-root out-degree cap, exact
    integer s1_ppm / t_sum / s2_ppm with the overflow-safe 4/5 factoring."""
    from unsupervised_ner_spark.pipeline import er

    pages = _docs_as_pages(spark, sf_dir)
    trip = run_pipeline(pages, lang_filter=None)["triples"]
    edges = trip.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).unionByName(_simrank_splice_edges(spark, sf_dir))
    return er.simrank_two_iter(edges)


def q_kg_entity_facts(spark, sf_dir):
    """Top-3 facts per canonical subject entity (er.entity_top_facts —
    LinkSUM-shaped): rank by (n_support DESC, object salience DESC,
    pred, obj_id) over the cross-document support table."""
    from unsupervised_ner_spark.pipeline import er

    return er.entity_top_facts(
        er.triple_support(q_kg_canonical_triples(spark, sf_dir)), k=3
    )


def q_kg_pra(spark, sf_dir):
    """PRA relation-path feature table (er.pra_features — Lao & Cohen):
    2-hop path types between entity pairs with path/middle counts and
    the direct-edge label; degree-capped middles via paths_2hop."""
    from unsupervised_ner_spark.caching import scoped_persist
    from unsupervised_ner_spark.pipeline import er

    support = scoped_persist(
        er.triple_support(q_kg_canonical_triples(spark, sf_dir))
    )
    return er.pra_features(support)


def q_txt_rake(spark, sf_dir):
    """RAKE keyphrases (textstats.rake_keyphrases — Rose et al. 2010):
    stopword-delimited phrase candidates, deg/freq word scores, integer
    phrase sums; the phrase-level complement of txt_textrank."""
    return textstats.rake_keyphrases(_t(spark, sf_dir, "documents"))


def _infer_splice_triples(spark, sf_dir):
    """The rule splice with deterministic HOLES for the inference gate:
    trusts is withheld where a % 4 == 0 and likes where a % 4 == 1, so
    knows=>trusts (fwd, 750000 ppm) and knows=>likes (inv, 750000 ppm)
    stay above threshold yet propose exactly the withheld facts — the
    anti-join leaves a non-empty, fully predictable candidate set (the
    splice docstrings' no-empty-pass rule)."""
    docs = _t(spark, sf_dir, "documents")
    a = F.expr("doc_id DIV 5") % 12
    m = (F.col("doc_id") % 5 + 1).cast("int")
    off = F.element_at(
        F.array(F.lit(1), F.lit(1), F.lit(11), F.lit(2), F.lit(4)), m
    )
    pred = F.element_at(
        F.array(
            F.lit("knows"), F.lit("trusts"), F.lit("likes"),
            F.lit("reaches"), F.lit("near"),
        ),
        m,
    )
    node = lambda c: F.concat(F.lit("e"), F.lpad(c.cast("string"), 2, "0"))
    return (
        docs.select(
            node(a).alias("subj"), pred.alias("pred_norm"),
            node((a + off) % 12).alias("obj"), a.alias("a"), m.alias("m"),
        )
        .filter(
            ~((F.col("m") == 2) & (F.col("a") % 4 == 0))
            & ~((F.col("m") == 3) & (F.col("a") % 4 == 1))
        )
        .select("subj", "pred_norm", "obj")
    )


def q_kg_inferred_triples(spark, sf_dir):
    """One-step forward chaining (triples.apply_rules — the AMIE rule-
    APPLICATION step): mine 2-atom rules over production triples UNION
    the holed inference splice, instantiate the kept rules, anti-join
    existing facts; output is the KB-completion candidate queue."""
    from unsupervised_ner_spark.pipeline.triples import apply_rules

    pages = _docs_as_pages(spark, sf_dir)
    trip = run_pipeline(pages, lang_filter=None)["triples"].select(
        "subj", "pred_norm", "obj"
    )
    return apply_rules(trip.unionByName(_infer_splice_triples(spark, sf_dir)))


def _claims_splice(spark, sf_dir):
    """Deterministic (src, subj, pred, obj) claim splice for the truth-
    discovery gate: 10 sources x 20 subjects; sources s7-s9 claim the
    wrong object on even subjects (their quality drops to ~500000 ppm);
    on subject q01 only {s0,s1,s7,s8,s9} claim, so the naive majority is
    the lie (3 vs 2) and ONLY reliability weighting recovers the truth —
    the gate proves the flip, not just the happy path."""
    docs = _t(spark, sf_dir, "documents")
    s = F.col("doc_id") % 10
    k = F.expr("doc_id DIV 10") % 20
    knum = F.lpad(k.cast("string"), 2, "0")
    obj = (
        F.when((k == 1) & (s >= 7), F.lit("f01"))
        .when(k == 1, F.lit("t01"))
        .when((s >= 7) & (k % 2 == 0), F.concat(F.lit("f"), knum))
        .otherwise(F.concat(F.lit("t"), knum))
    )
    return (
        docs.select(
            F.concat(F.lit("s"), s.cast("string")).alias("src"),
            F.concat(F.lit("q"), knum).alias("subj"),
            F.lit("capital_of").alias("pred_norm"),
            obj.alias("obj"),
            s.alias("s"), k.alias("k"),
        )
        .filter((F.col("k") != 1) | F.col("s").isin(0, 1, 7, 8, 9))
        .select("src", "subj", "pred_norm", "obj")
    )


def q_kg_truth_discovery(spark, sf_dir):
    """Source-reliability-weighted conflict resolution (triples.
    truth_discovery — one Sums/TruthFinder iteration) over the
    deterministic claim splice; `changed` rows are where weighting
    flipped the naive majority."""
    from unsupervised_ner_spark.pipeline.triples import truth_discovery

    return truth_discovery(_claims_splice(spark, sf_dir))


C4_MOD = 7
C4_LOREM_REM = 1
C4_BRACE_REM = 3
C4_POLICY_REM = 5


def q_txt_c4_filters(spark, sf_dir):
    """C4-style named cleaning rules (textstats.c4_filters): line stats +
    lorem/brace/policy blocklist flags + keep. The single-line word-salad
    corpus trips none of the blocklists, so three doc_id residues get the
    deterministic offending splices (lorem line, code brace, policy
    phrase with a terminal period — the one terminal-punctuated line in
    the corpus); the oracle replays them byte-identically."""
    from unsupervised_ner_spark.ops.textstats import c4_filters

    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % C4_MOD == C4_LOREM_REM,
            F.concat("text", F.lit("\nlorem ipsum dolor sit amet consectetur")),
        ).when(
            F.col("doc_id") % C4_MOD == C4_BRACE_REM,
            F.concat("text", F.lit("\nfunction() { return 1; }")),
        ).when(
            F.col("doc_id") % C4_MOD == C4_POLICY_REM,
            F.concat(
                "text",
                F.lit("\nplease review our cookie policy before continuing."),
            ),
        ).otherwise(F.col("text")),
    )
    return c4_filters(docs, min_long_lines=1, min_line_words=5)


# list lengths 5/5/7 are coprime to ROLE_MOD=6, so every person, role,
# and org fires at the gate scales (a len-4 role list only ever hit the
# even indices, measured before shipping)
ROLE_MOD = 6
ROLE_PERSONS = ["Ada Lovelace", "Alan Turing", "Grace Hopper",
                "Linus Torvalds", "Tim Berners"]
ROLE_ROLES = ["founder", "chief executive", "president", "director",
              "chairman"]
ROLE_ORGS = ["Acme Corp", "Globex", "Initech", "Umbrella", "Hooli",
             "Stark Industries", "Wayne Enterprises"]


def q_kg_role_facts(spark, sf_dir):
    """Role-appositive relation extraction (triples.role_pattern_facts):
    "<Person>, <role> of <Org>," -> (subj, role, obj) facts. The
    word-salad corpus has no natural role appositives, so every
    ROLE_MOD-th doc gets the deterministic splice (the Hearst-gate
    precedent; the oracle replays it byte-identically)."""
    from unsupervised_ner_spark.pipeline.triples import role_pattern_facts

    docs = _t(spark, sf_dir, "documents")
    p = F.element_at(
        F.array(*[F.lit(t) for t in ROLE_PERSONS]),
        (F.col("doc_id") % len(ROLE_PERSONS) + 1).cast("int"),
    )
    r = F.element_at(
        F.array(*[F.lit(t) for t in ROLE_ROLES]),
        (F.col("doc_id") % len(ROLE_ROLES) + 1).cast("int"),
    )
    o = F.element_at(
        F.array(*[F.lit(t) for t in ROLE_ORGS]),
        (F.col("doc_id") % len(ROLE_ORGS) + 1).cast("int"),
    )
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % ROLE_MOD == 0,
            F.concat("text", F.lit("\n"), p, F.lit(", "), r, F.lit(" of "),
                     o, F.lit(", said so")),
        ).otherwise(F.col("text")),
    )
    sents = pages_to_sentences(_pages_of(docs)).select(
        "url", F.col("sent_idx").cast("long").alias("sent_idx"), "sent"
    )
    return role_pattern_facts(sents)


MEAS_MOD = 4
MEAS_REM = 1
MEAS_ENTS = ["Eiffel Tower", "Blue Whale", "Mount Fuji", "Golden Gate",
             "Great Pyramid"]
MEAS_VERBS = ["is", "measures", "weighs", "costs"]
MEAS_UNIT_TERMS = ["km", "m", "cm", "kg", "g", "mg", "percent"]


def q_kg_measurements(spark, sf_dir):
    """Grounded quantity extraction (triples.measurement_facts):
    "<Entity> <verb> <int> <unit>" -> literal-valued facts with the
    exact-integer base normalization (mm / mg / ppm). Every
    (MEAS_MOD k + MEAS_REM)-th doc gets a deterministic measurement
    splice with num = (doc_id * 7) % 240 + 1 (the oracle replays it
    byte-identically)."""
    from unsupervised_ner_spark.pipeline.triples import measurement_facts

    docs = _t(spark, sf_dir, "documents")
    e = F.element_at(
        F.array(*[F.lit(t) for t in MEAS_ENTS]),
        (F.col("doc_id") % len(MEAS_ENTS) + 1).cast("int"),
    )
    v = F.element_at(
        F.array(*[F.lit(t) for t in MEAS_VERBS]),
        (F.col("doc_id") % len(MEAS_VERBS) + 1).cast("int"),
    )
    u = F.element_at(
        F.array(*[F.lit(t) for t in MEAS_UNIT_TERMS]),
        (F.col("doc_id") % len(MEAS_UNIT_TERMS) + 1).cast("int"),
    )
    num = ((F.col("doc_id") * 7) % 240 + 1).cast("long")
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % MEAS_MOD == MEAS_REM,
            F.concat("text", F.lit("\n"), e, F.lit(" "), v, F.lit(" "),
                     num.cast("string"), F.lit(" "), u),
        ).otherwise(F.col("text")),
    )
    sents = pages_to_sentences(_pages_of(docs)).select(
        "url", F.col("sent_idx").cast("long").alias("sent_idx"), "sent"
    )
    return measurement_facts(sents)


def q_kg_topo_layers(spark, sf_dir):
    """Kahn topological layering (er.topo_layers) of the SCC condensation
    DAG — per round, zero-indegree nodes peel into layer round-1 (= the
    longest path reaching them); unproven-cycle leftovers at the 5-round
    horizon report ('open', -1). Same edge set + cycle splice as
    kg_scc/kg_condensation."""
    from unsupervised_ner_spark.pipeline import er

    pages = _docs_as_pages(spark, sf_dir)
    trip = run_pipeline(pages, lang_filter=None)["triples"]
    edges = (
        trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .unionByName(_scc_splice_edges(spark, sf_dir))
        .distinct()
    )
    return er.topo_layers(
        er.scc_condensation(edges, inner_rounds=3, outer_rounds=2), rounds=5
    )


def q_txt_good_turing(spark, sf_dir):
    """Good-Turing frequency-of-frequencies (textstats.good_turing_fof):
    N_r per observed frequency with the (r+1)*N_{r+1} adjusted-count
    numerator — the smoothing estimator's exact integer input."""
    return textstats.good_turing_fof(_t(spark, sf_dir, "documents"))


DRIFT_A_SPLICE = "archaism fading fading fading trending"
DRIFT_B_SPLICE = "neologism trending trending trending fading"


def q_txt_vocab_drift(spark, sf_dir):
    """Vocabulary drift between snapshots (textstats.vocab_drift): even
    doc_ids = snapshot A, odd = B; per token the integer sufficient
    statistics + the drift class by exact cross-multiplication. The
    uniform word-salad corpus is 100% 'stable' (measured), so the gate
    splices append snapshot-specific tokens — gone / new / 3:1 up /
    1:3 down all fire at both gate scales (the oracle replays the splice
    byte-identically)."""
    from unsupervised_ner_spark.ops.textstats import vocab_drift

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 2 == 0, F.lit(" " + DRIFT_A_SPLICE))
            .otherwise(F.lit(" " + DRIFT_B_SPLICE)),
        ),
    )
    return vocab_drift(docs, ratio_num=2)


def q_kg_matching(spark, sf_dir):
    """Parallel greedy maximal matching (er.maximal_matching): Israeli-
    Itai local-minimum edges over the co-occurrence graph with
    deterministic md5 edge priorities — per round, (priority, ekey)-
    minimum-at-both-endpoints edges join the matching, adjacent alive
    edges drop; 2 unrolled rounds, leftovers 'open'. Gate coverage
    (measured): matched@1, matched@2 and dropped@1 fire at both scales —
    the iteration is proven in-gate; the graph converges in 2 rounds, so
    the 'open' and dropped@2 branches are unit-test-covered instead (the
    path-graph test; the gopher constant-branch precedent)."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.maximal_matching(er.cooccurrence_edges(typed), rounds=2)


def q_rel_bloom_semijoin(spark, sf_dir):
    """Bloom-filter semi-join audit (layout.bloom_semijoin_stats): orders
    probed against the BUILDING-segment customer keys through a 1024-bit
    2-hash filter — exact pass/match/false-positive accounting plus the
    bit-density column; the no-false-negative cell is structurally
    empty."""
    from unsupervised_ner_spark.ops.layout import bloom_semijoin_stats

    probe = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    build = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
    )
    return bloom_semijoin_stats(probe, build, m=1024, k=2)


def q_kg_coloring(spark, sf_dir):
    """Jones-Plassmann greedy graph coloring (er.jp_coloring) over the
    co-occurrence graph: per round, (priority, key)-local-minimum
    uncolored nodes take the mex of their colored neighbors' colors —
    round winners are an independent set so concurrent assignment never
    conflicts; 3 unrolled rounds, leftovers 'open' with color -1. Color
    classes = contention-free entity batches (no two same-color entities
    ever share a sentence)."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.jp_coloring(er.cooccurrence_edges(typed), rounds=3)


def q_kg_katz(spark, sf_dir):
    """Truncated Katz index (er.katz_index): beta=1/2 walk-count link
    prediction to length 3 over the co-occurrence graph, relay nodes
    degree-capped by the shared adaptive cube-root rule; katz_ppm is the
    exact integer 500000*n1 + 250000*n2 + 125000*n3."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.katz_index(er.cooccurrence_edges(typed))


ACRO_MOD = 5
ACRO_VALID_REM = 0
ACRO_BOGUS_REM = 2
ACRO_BOGUS_SHORT = "XQZ"
ACRO_LONG = [
    "World Health Organization", "Central Processing Unit",
    "Magnetic Resonance Imaging", "Gross Domestic Product",
    "European Central Bank", "Large Language Model",
    "General Purpose Technology",
]
ACRO_SHORT = ["WHO", "CPU", "MRI", "GDP", "ECB", "LLM", "GPT"]


def q_kg_acronyms(spark, sf_dir):
    """Schwartz-Hearst-style acronym definitions (taxonomy.acronym_pairs)
    over the sentence table. The word-salad corpus contains no natural
    "Long Form (LF)" text, so every ACRO_MOD-th doc gets a deterministic
    valid definition splice and every (ACRO_MOD k + 2)-th an
    initials-MISMATCHED candidate ("(XQZ)") that the validation must kill
    (the Hearst-gate precedent; the oracle replays both byte-identically)."""
    from unsupervised_ner_spark.pipeline.taxonomy import acronym_pairs

    docs = _t(spark, sf_dir, "documents")
    lf = F.element_at(
        F.array(*[F.lit(t) for t in ACRO_LONG]),
        (F.col("doc_id") % len(ACRO_LONG) + 1).cast("int"),
    )
    sf = F.element_at(
        F.array(*[F.lit(t) for t in ACRO_SHORT]),
        (F.col("doc_id") % len(ACRO_SHORT) + 1).cast("int"),
    )
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % ACRO_MOD == ACRO_VALID_REM,
            F.concat("text", F.lit("\n"), lf, F.lit(" ("), sf,
                     F.lit(") appeared")),
        ).when(
            F.col("doc_id") % ACRO_MOD == ACRO_BOGUS_REM,
            F.concat("text", F.lit("\n"), lf,
                     F.lit(" (" + ACRO_BOGUS_SHORT + ") appeared")),
        ).otherwise(F.col("text")),
    )
    sents = pages_to_sentences(_pages_of(docs)).select(
        "url", F.col("sent_idx").cast("long").alias("sent_idx"), "sent"
    )
    return acronym_pairs(sents)


def q_rel_sequence_patterns(spark, sf_dir):
    """Gap-tolerant sequential patterns (asof.sequence_patterns — GSP's
    length-2 core): per ordered type pair, users with SOME antecedent
    strictly before SOME consequent via (min_ts, max_ts) sufficient
    statistics; exact ppm confidence + documented overflow-safe lift —
    the complement of rel_transitions' adjacent-only bigram matrix.
    The raw gate stream is so dense every user supports every pair
    (measured: 375/0 kept/dropped at sf0.001), so the query runs on the
    deterministic sparse substream event_id % SEQ_MOD == SEQ_REM — the
    rel_gap_fill residue-splice precedent that makes the strict order
    test discriminate at BOTH gate scales (205/70 kept/dropped at
    sf0.001, 2224/674 at sf0.01); the oracle replays the identical
    filter."""
    from unsupervised_ner_spark.ops.asof import sequence_patterns

    return sequence_patterns(
        _t(spark, sf_dir, "events").filter(
            F.col("event_id") % SEQ_MOD == SEQ_REM
        )
    )


def q_kg_temporal_paths(spark, sf_dir):
    """Time-respecting 2-hop reachability (er.temporal_paths — Kempe et
    al. temporal-path semantics) over the temporal fact table with the
    deterministic url-derived warc_ts: b->c composes after a->b only
    when first_seen(bc) >= first_seen(ab); shared cube-root mid cap,
    earliest-arrival + minimum-wait per reachable (src, dst)."""
    from unsupervised_ner_spark.pipeline import er

    return er.temporal_paths(q_kg_triples_temporal(spark, sf_dir))


def q_txt_shard_ring(spark, sf_dir):
    """Consistent-hash resharding movement matrix (layout.shard_ring_moves
    — Karger et al.): 4-shard vs 5-shard ring with 16 vnodes each, both
    assignments expression-only successor lookups on inline ring
    literals; off-diagonal rows prove docs only move TO the new shard.
    The wraparound branch fires at both gate scales (2 docs hash past
    the max ring point, measured)."""
    from unsupervised_ner_spark.ops.layout import shard_ring_moves

    return shard_ring_moves(_t(spark, sf_dir, "documents"))


def q_rel_k_anonymity(spark, sf_dir):
    """k-anonymity / distinct-l-diversity audit (curation.k_anonymity):
    QI = (event_type, day, floor(value/100)), sensitive = user_id; exact
    per-group counts + both violation flags via the two-level aggregate
    (no count-distinct Expand). All four branches fire at both gate
    scales (k-viol/ok 140/101 at sf0.001, 138/278 at sf0.01; l-viol
    101/107 resp.)."""
    from unsupervised_ner_spark.ops.curation import k_anonymity

    return k_anonymity(_t(spark, sf_dir, "events"))


def q_ann_nndescent(spark, sf_dir):
    """One NN-Descent refinement round (simsearch.nn_descent_round — Dong
    et al. WWW'11): SRP-bucket init graph, undirected local-join
    co-neighbor candidates, exact rounded-cosine re-score, per-node
    top-k over old-union-new; is_new marks edges the round discovered
    beyond the LSH init — the kNN-graph construction path beside the
    query-time ANN family."""
    from unsupervised_ner_spark.ops.simsearch import nn_descent_round

    return nn_descent_round(_t(spark, sf_dir, "embeddings"))


def q_mm_audio_match(spark, sf_dir):
    """Shazam-style audio matching (multimodal.audio_fingerprints +
    audio_match_pairs — Wang ISMIR'03): constellation peak-pair hashes
    from the Arrow-batched stub filterbank, df-capped inverted index,
    offset-consistent modal vote per doc pair. The splice plants shifted
    copies (every 13th doc = 64 filler bytes + the next doc's payload,
    a whole-frame shift) so the offset<>0 branch fires beside the
    organic offset-0 near-dup prefixes — measured 57 pairs at sf0.001
    (32 spliced, 22 organic), 52 at sf0.01; splice recall < 1 is the
    algorithm's honest miss on short docs, replayed identically by the
    oracle."""
    from unsupervised_ner_spark.ops.multimodal import (
        audio_fingerprints,
        audio_match_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    nxt = d.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.col("text").alias("next_text"),
    )
    media = d.join(nxt, "doc_id", "left").select(
        "doc_id",
        F.encode(
            F.when(
                (F.col("doc_id") % 13 == 0) & F.col("next_text").isNotNull(),
                F.concat(F.repeat(F.lit("x"), 64), F.col("next_text")),
            ).otherwise(F.col("text")),
            "UTF-8",
        ).alias("payload"),
    )
    return audio_match_pairs(audio_fingerprints(media))


def q_txt_boilerplate(spark, sf_dir):
    """Host-level boilerplate-line audit (textstats.host_boilerplate):
    the per-host RATIO rule beside txt_line_dedup's global-df rule, over
    the same deterministic multi-line view (per-source header = 100% of
    the host -> flagged; every-third-doc footer ~33% > the 30% bar ->
    flagged; unique 8-word body lines clean). 40 flagged / 3690 clean
    at sf0.001 (measured)."""
    from unsupervised_ner_spark.ops.textstats import host_boilerplate

    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ", -1)
    nch = F.expr("(size(split(text, ' ', -1)) + 7) div 8")
    body = F.transform(
        F.sequence(F.lit(0), nch - F.lit(1)),
        lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "),
    )
    header = F.concat(
        F.lit("(c) "), F.col("source"),
        F.lit(" media network all rights reserved"),
    )
    footer = F.when(
        F.pmod(F.col("doc_id"), 3) == 0,
        F.array(F.lit("subscribe to our newsletter for daily updates")),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    multi = F.array_join(F.concat(F.array(header), body, footer), "\n")
    return host_boilerplate(
        d.select("doc_id", "source", multi.alias("text"))
    )


def q_er_geo_pairs(spark, sf_dir):
    """Grid-cell geo blocking + exact verify (dedup.geo_near_pairs): the
    spatial ER candidate generator over deterministic md5-derived POI
    coordinates (5 event-type city centers, +-0.2 degree jitter, integer
    micro-degrees); 3x3 probe-cell EQUI-join — never a range-join plan.
    Both branches fire: 724 near / 2031 candidates at sf0.001, 75411 /
    208323 at sf0.01 (measured)."""
    from unsupervised_ner_spark.ops.dedup import geo_near_pairs
    from unsupervised_ner_spark.ops.kgtrain import md5_int32

    ev = _t(spark, sf_dir, "events")
    sid = F.col("event_id").cast("string")
    lat = (
        md5_int32(F.concat(F.lit("city:"), F.col("event_type"))) % 120000001
        - 60000000
        + md5_int32(F.concat(F.lit("lat:"), sid)) % 400001
        - 200000
    )
    lon = (
        md5_int32(F.concat(F.lit("cty2:"), F.col("event_type"))) % 360000001
        - 180000000
        + md5_int32(F.concat(F.lit("lon:"), sid)) % 400001
        - 200000
    )
    return geo_near_pairs(
        ev.select(
            F.col("event_id").alias("pid"),
            lat.cast("long").alias("lat"),
            lon.cast("long").alias("lon"),
        )
    )


CONJ_MOD = 5
CONJ_REM = 2
CONJ_VERBS = ["borders", "adjoins", "rivals"]


def q_kg_conjunct_facts(spark, sf_dir):
    """Coordination expansion (triples.conjunct_facts): "a, b and c
    borders d" distributes the predicate over every conjunct. Every
    (CONJ_MOD k + CONJ_REM)-th doc gets a deterministic conjunction
    splice — 2-item "x and y" on even doc_ids, 3-item "x, y and z" on
    odd (CONJ_MOD=5 keeps the residue class parity-mixed; mod 6 rem 2
    would hit only even ids and the 3-item arity would never fire,
    measured) — over the shared e-node naming; the oracle replays the
    splice byte-identically."""
    from unsupervised_ner_spark.pipeline.triples import conjunct_facts

    docs = _t(spark, sf_dir, "documents")
    node = lambda c: F.concat(  # noqa: E731
        F.lit("e"), F.lpad(F.pmod(c, F.lit(12)).cast("string"), 2, "0")
    )
    s0, s1, s2 = (node(F.col("doc_id") + d) for d in (0, 3, 6))
    obj = node(F.col("doc_id") + 7)
    verb = F.element_at(
        F.array(*[F.lit(v) for v in CONJ_VERBS]),
        (F.col("doc_id") % len(CONJ_VERBS) + 1).cast("int"),
    )
    lst = F.when(
        F.col("doc_id") % 2 == 0, F.concat(s0, F.lit(" and "), s1)
    ).otherwise(
        F.concat(s0, F.lit(", "), s1, F.lit(" and "), s2)
    )
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % CONJ_MOD == CONJ_REM,
            F.concat("text", F.lit("\n"), lst, F.lit(" "), verb,
                     F.lit(" "), obj),
        ).otherwise(F.col("text")),
    )
    sents = pages_to_sentences(_pages_of(docs)).select(
        "url", F.col("sent_idx").cast("long").alias("sent_idx"), "sent"
    )
    return conjunct_facts(sents)


def q_rel_rate_anomaly(spark, sf_dir):
    """Trailing-window rate anomaly (asof.rate_anomaly): per (type, day)
    exact cross-multiplied compare of the day's count against 5/4 of the
    trailing 7-day average, RANGE frame on the day number, cold-start
    flag under 3 observed trailing days. All three branches fire at both
    gate scales (anom/calm/cold 39/96/15 at sf0.001, 7/128/15 at
    sf0.01, measured)."""
    from unsupervised_ner_spark.ops.asof import rate_anomaly

    return rate_anomaly(_t(spark, sf_dir, "events"))


def q_rel_fd_audit(spark, sf_dir):
    """Functional-dependency discovery (curation.fd_audit — TANE's
    pairwise core) over (event_type, day, weekday, vbucket): one corpus
    collapse into the distinct-combination table, then every ordered
    pair audited from that bounded table. day -> weekday is the planted
    true FD (weekday = day % 7); every other pair violates — both
    verdict branches fire by construction."""
    from unsupervised_ner_spark.ops.curation import fd_audit

    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    ev = _t(spark, sf_dir, "events").select(
        "event_type", day.alias("day"), (day % 7).alias("weekday"),
        F.floor(F.col("value") / 100).cast("long").alias("vbucket"),
    )
    return fd_audit(ev, ["event_type", "day", "weekday", "vbucket"])


def q_rel_join_estimate(spark, sf_dir):
    """Correlated-key-sample join-cardinality estimation
    (layout.join_estimate — Vengerov VLDB'15): orders x lineitem on
    orderkey, md5 % 16 key sample, one audit row with exact truth,
    scaled estimate, and signed exact-ppm error."""
    from unsupervised_ner_spark.ops.layout import join_estimate

    return join_estimate(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"),
        "o_orderkey", "l_orderkey",
    )


def q_er_bcubed(spark, sf_dir):
    """B-cubed evaluation of the production near-dup clustering
    (er.bcubed_score over dedup.dedup_clusters): every 9th doc (residue
    4) spawns a PLANTED near-duplicate copy (doc_id + 1,000,000, first
    4/5 of the words) — the known truth pairs; everything else is a
    truth singleton. Precision < 1e6 exposes LSH merging organic
    near-dups beyond the planted truth, recall < 1e6 exposes planted
    copies the banding missed — the honest scorecard of the dedup
    chain's operating point, replayed exactly by the oracle."""
    from unsupervised_ner_spark.ops.dedup import dedup_clusters
    from unsupervised_ner_spark.pipeline import er

    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ", -1)
    keep = F.expr("(size(split(text, ' ', -1)) * 4 + 4) div 5")
    copies = d.filter(F.col("doc_id") % 9 == 4).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(ws, 1, keep), " ").alias("text"),
    )
    aug = d.select("doc_id", "text").unionByName(copies)
    clusters = dedup_clusters(aug).select("doc_id", "cluster_id")
    assign = aug.join(clusters, "doc_id", "left").select(
        F.col("doc_id").alias("item"),
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("pred"),
        F.when(
            F.col("doc_id") >= 1000000, F.col("doc_id") - 1000000
        ).otherwise(F.col("doc_id")).alias("truth"),
    )
    return er.bcubed_score(assign)


def q_txt_source_jaccard(spark, sf_dir):
    """Cross-source vocabulary overlap (sketches.source_jaccard): KMV
    Jaccard estimate (k=64 hash-smallest per source, merged-sketch
    matches) beside the exact intersection/union truth per source pair —
    the error audit that justifies dropping the exact branch at 100 TB."""
    from unsupervised_ner_spark.ops.sketches import source_jaccard

    return source_jaccard(_t(spark, sf_dir, "documents"))


SHACL_SHAPES = [("owns", 4), ("manages", 1), ("heads", 1)]


def q_kg_shacl_card(spark, sf_dir):
    """SHACL sh:maxCount validation (er.shacl_cardinality) of a fact
    table against declared shapes. The canonical graph is measured
    max-1-object-per-(subj, pred) — nothing to validate — so the facts
    come from a deterministic splice whose per-subject object fan-out
    varies with the subject index: owns (cap 4) violates only for
    subjects with 5-6 distinct objects, manages (cap 1) only for
    odd-index subjects, heads (cap 1) always conforms — every verdict
    branch fires per predicate (owns 8/2, manages 5/5 conform/violate,
    heads 10/0, measured at both gate scales). The object index is an
    md5 draw modulo the per-subject fan-out: plain doc_id div/mod
    arithmetic ALIASES (the doc stride within a (subj, pred) class
    shares factors with the fan-out modulus and collapsed every count
    to conforming — measured zero violations); md5 decorrelates. The
    oracle replays the construction."""
    from unsupervised_ner_spark.ops.kgtrain import md5_int32
    from unsupervised_ner_spark.pipeline import er

    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id") % 10
    pred = F.element_at(
        F.array(*[F.lit(p) for p, _ in SHACL_SHAPES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    draw = md5_int32(
        F.concat(F.lit("shacl:"), F.col("doc_id").cast("string"))
    )
    obj_idx = (
        F.when(pred == "owns", draw % (1 + k % 6))
        .when(pred == "manages", draw % (1 + k % 2))
        .otherwise(F.lit(0))
    )
    facts = d.select(
        F.concat(F.lit("s"), k.cast("string")).alias("subj"),
        pred.alias("pred"),
        F.concat(F.lit("o"), obj_idx.cast("string")).alias("obj"),
    )
    return er.shacl_cardinality(facts, SHACL_SHAPES)


def q_rel_decay_score(spark, sf_dir):
    """Exponential time-decay engagement score (asof.decay_score): exact
    integer cents halved per whole 7 days of age vs the stream's global
    max day (div 2^k — no float decay), per-user totals + recency."""
    from unsupervised_ner_spark.ops.asof import decay_score

    return decay_score(_t(spark, sf_dir, "events"))


def q_rel_attribution(spark, sf_dir):
    """First/last-touch conversion attribution (asof.touch_attribution):
    every purchase credits its cents to the last AND the first preceding
    view/click touch in the (unix_micros, event_id) per-user order,
    'direct' when none precedes. Long-form (model, channel) credit table
    with exact cents + summed touch->purchase lag micros (gaps, not
    epochs, are hashed). All three channels fire NATURALLY at both gate
    scales (last-touch view/click/direct 92/99/11 at sf0.001,
    875/1036/70 first-touch at sf0.01 — measured, no splice needed)."""
    from unsupervised_ner_spark.ops.asof import touch_attribution

    return touch_attribution(_t(spark, sf_dir, "events"))


def q_rel_debounce(spark, sf_dir):
    """Burst-collapse debounce (asof.debounce, 6 h threshold):
    gaps-and-islands over (user_id, event_type); one row per burst
    island with events collapsed, intra-island span, and the inter-
    island lead gap (-1 opens each key) — all microsecond DIFFERENCES,
    never epochs. The 6 h threshold makes both branches fire naturally
    (100 / 1036 sub-threshold gaps collapse at sf0.001 / sf0.01,
    measured; the median same-key gap is ~35 h, so boundaries
    dominate)."""
    from unsupervised_ner_spark.ops.asof import debounce

    return debounce(_t(spark, sf_dir, "events"))


def q_kg_louvain_move(spark, sf_dir):
    """One synchronized Louvain move phase (er.louvain_move) over the
    4-round LPA partition of the entity co-occurrence graph: per node
    the exact-integer 2m^2-scaled delta-Q argmax over neighbouring
    communities vs staying, deterministic (score DESC, community ASC)
    — the modularity-optimizing refinement beside kg_communities'
    plurality vote and kg_modularity's scorecard."""
    from unsupervised_ner_spark.pipeline import er

    typed = _typed_production(spark, sf_dir)
    return er.louvain_move(er.cooccurrence_edges(typed), iterations=4)


def q_er_blocking_quality(spark, sf_dir):
    """Blocking-stage scorecard (er.blocking_quality over the LSH
    candidate pairs): pairs completeness / pairs quality / reduction
    ratio vs the SAME planted-copy truth er_bcubed grades clusters
    against (every 9th doc residue 4 spawns a 4/5-prefix copy at
    doc_id + 1,000,000) — the candidate-stage knob a blocking re-tune
    moves, measured before CC ever runs."""
    from unsupervised_ner_spark.ops.dedup import (
        adaptive_max_bucket, lsh_bucket_pairs,
    )
    from unsupervised_ner_spark.pipeline import er

    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ", -1)
    keep = F.expr("(size(split(text, ' ', -1)) * 4 + 4) div 5")
    copies = d.filter(F.col("doc_id") % 9 == 4).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(ws, 1, keep), " ").alias("text"),
    )
    aug = d.select("doc_id", "text").unionByName(copies)
    truth = d.filter(F.col("doc_id") % 9 == 4).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 1000000).alias("doc_b"),
    )
    n = aug.count()
    cand = lsh_bucket_pairs(aug, max_bucket=adaptive_max_bucket(n))
    return er.blocking_quality(cand, truth, n)


TEMPORAL_DAY_MOD = 60


def q_kg_temporal_conflicts(spark, sf_dir):
    """Temporal-consistency validation (triples.interval_conflicts):
    functional-predicate conflicts that only count when the two objects'
    validity intervals OVERLAP — capital_of changing over time is
    history, not a contradiction. Facts = production triples (days from
    the url-derived warc_ts, the kg_fact_intervals device) UNION the
    conflict splice with md5-drawn days mod 60 (measured at both gate
    scales: 3 of s0's 10 capital_of object pairs overlap, 7 do not —
    both branches fire; plain doc_id arithmetic would correlate with
    the 24-doc block stride, the kg_shacl_card lesson)."""
    from unsupervised_ner_spark.ops.kgtrain import md5_int32
    from unsupervised_ner_spark.pipeline.triples import interval_conflicts

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    prod = stages["triples"].select(
        "subj", "pred_norm", "obj",
        F.expr(
            "(1704067200 + (CAST(url AS BIGINT) % 97) * 86400"
            " + (CAST(url AS BIGINT) % 24) * 3600) div 86400"
        ).cast("long").alias("day"),
    )
    splice = _conflict_splice_triples(spark, sf_dir, with_doc_id=True)
    splice = splice.select(
        "subj", "pred_norm", "obj",
        (
            md5_int32(F.concat(F.lit("tc:"), F.col("doc_id").cast("string")))
            % TEMPORAL_DAY_MOD
        ).cast("long").alias("day"),
    )
    return interval_conflicts(prod.unionByName(splice))


def q_rel_histogram(spark, sf_dir):
    """Equi-width value histogram per event type (exact integers): 20
    buckets over the global cents range; the bucket-of-x rule is the
    floor (x-gmin)*nb div span, and the printed edges use the CEILING
    division lo(b) = gmin + ceil(span*b / nb) — the exact inverse, so
    every value lands inside its own bucket's [lo, hi] (floor edges are
    off by one near uneven bucket boundaries; unit-tested invariant).
    Zero-filled empty buckets (the rel_gap_fill device), cumulative
    counts and ppm over the bounded (type x bucket) table. Scale shape: ONE event-sized
    map-side-combining aggregate; the range row broadcasts; the
    zero-fill explode and both windows run on the <= types*20 table."""
    from pyspark.sql import Window

    nb = 20
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    rng = e.agg(
        F.min("cents").alias("gmin"),
        (F.max("cents") - F.min("cents") + 1).alias("span"),
    )
    counts = (
        e.crossJoin(F.broadcast(rng))
        .select(
            "event_type", "gmin", "span",
            F.expr(f"(cents - gmin) * {nb} div span").cast("long")
            .alias("bucket"),
        )
        .groupBy("event_type", "gmin", "span", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
    types = counts.select("event_type", "gmin", "span").distinct()
    grid = types.select(
        "event_type", "gmin", "span",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("bucket"),
    ).withColumn("bucket", F.col("bucket").cast("long"))
    # edges use CEILING division so they are the exact inverse of the
    # floor bucket rule: bucket(x)=b  <=>  lo(b) <= x <= hi(b)
    # (floor edges fail at e.g. gmin=-250, span=568: x=-222 buckets to 0
    # but floor-hi(0) is -223 — caught by the unit-test invariant)
    filled = (
        grid.join(counts, ["event_type", "gmin", "span", "bucket"], "left")
        .select(
            "event_type", "bucket",
            F.expr(f"gmin + (span * bucket + {nb - 1}) div {nb}")
            .cast("long").alias("lo_cents"),
            F.expr(
                f"gmin + (span * (bucket + 1) + {nb - 1}) div {nb} - 1"
            ).cast("long").alias("hi_cents"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    return filled.select(
        "event_type", "bucket", "lo_cents", "hi_cents", "n",
        F.sum("n").over(wc).cast("long").alias("cum_n"),
        F.sum("n").over(wt).cast("long").alias("_tot"),
    ).select(
        "event_type", "bucket", "lo_cents", "hi_cents", "n", "cum_n",
        F.expr("n * 1000000 div _tot").cast("long").alias("ppm"),
    )


def q_rel_q18_bigcust(spark, sf_dir):
    """TPC-H Q18-shaped large-volume-customer query: orders whose summed
    lineitem quantity exceeds 250 (p99 of the synth distribution —
    ~1%/~15 orders qualify at sf0.001), joined back to orders and the
    broadcast customer dim, top-100 by (totalprice cents DESC, orderkey
    ASC). The showcase beside rel_q3_topk: PRE-AGGREGATION BEFORE THE
    JOIN — the orderkey aggregate runs first and only qualifying keys
    ever reach the join (at 100 TB the filter drops ~99% of the fact
    table before any wide row is built); the top-k is a TakeOrdered,
    never a global sort."""
    qty = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.round("l_quantity", 0).cast("long").alias("qty")
    )
    big = (
        qty.groupBy("l_orderkey")
        .agg(F.sum("qty").cast("long").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("totalprice_cents"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).cast("long").alias("order_day"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey", "c_custkey", "c_name", "order_day",
            "totalprice_cents", "sum_qty",
        )
        .orderBy(F.desc("totalprice_cents"), F.asc("o_orderkey"))
        .limit(100)
    )


def q_ann_beam_search(spark, sf_dir):
    """Greedy graph beam search (simsearch.graph_beam_search): the
    HNSW/NSG query-time primitive over the symmetrized multiprobe-SRP
    kNN graph — 2 synchronized expand/rescore/prune rounds from the
    deterministic md5-argmin entry vector, beam 5, queries = vec_id %
    97 == 0; candidates stay graph-local (never a corpus scan)."""
    from unsupervised_ner_spark.ops.simsearch import graph_beam_search

    return graph_beam_search(_t(spark, sf_dir, "embeddings"))


def q_txt_span_corruption(spark, sf_dir):
    """T5 span-corruption prep (packing.span_corruption): hash-drawn
    15% noise positions, consecutive positions merge into corrupted
    spans, exact T5 encoder/decoder lengths per doc; zero-noise docs
    pass through (both branches measured at both gate scales)."""
    from unsupervised_ner_spark.ops.packing import span_corruption

    return span_corruption(_t(spark, sf_dir, "documents"))


def q_er_fs_patterns(spark, sf_dir):
    """Fellegi-Sunter agreement-pattern decision table (er.fs_patterns)
    over the er_pair_features channel: pairs collapse onto their 4-bit
    agreement vector, exact cross-multiplied likelihood thresholds
    assign link / nonlink / possible — the clerical-review queue of
    probabilistic record linkage, integers only. Ratio 45:1 is the
    measured operating point where ALL THREE regions fire at both gate
    scales (pattern 1011 is 1:40 at sf0.001 and 0011 is 1:1 at sf0.01 —
    any r in [41, 46] works; the region rule itself is the generic
    cross-multiplied comparison)."""
    from unsupervised_ner_spark.pipeline import er

    return er.fs_patterns(q_er_pair_features(spark, sf_dir), ratio=45)


def q_mm_caption_groups(spark, sf_dir):
    """Image-text pair consolidation (multimodal.caption_groups): the
    LAION-style same-image-many-captions collapse by pHash group. The
    pair splice re-posts every 25th doc's image with an 'alt '-prefixed
    caption (the ahash-groups re-entry precedent lifted to pairs: the
    IMAGE payload is byte-identical so the pHash collides, the caption
    differs) — n_captions >= 2 fires for every spliced group; every
    50th doc's image additionally RE-HOSTS under img_id + 1,000,000
    with the same payload (the cross-site repost), so n_images >= 2
    fires too (no organic pHash collisions exist in the word-salad
    corpus — measured)."""
    from unsupervised_ner_spark.ops import multimodal
    from unsupervised_ner_spark.ops.textstats import tokens_ws

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cap = F.array_join(
        F.slice(F.transform(tokens_ws(F.col("text")), F.lower), 1, 6), " "
    )
    rehost = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    pairs = d.select(
        F.col("doc_id").alias("img_id"), cap.alias("caption")
    ).unionByName(
        d.filter(F.col("doc_id") % 25 == 0).select(
            F.col("doc_id").alias("img_id"),
            F.concat(F.lit("alt "), cap).alias("caption"),
        )
    ).unionByName(
        rehost.select(F.col("doc_id").alias("img_id"), cap.alias("caption"))
    )
    media = multimodal.synth_media(d.unionByName(rehost))
    return multimodal.caption_groups(pairs, media)


def q_rel_q4_priority(spark, sf_dir):
    """TPC-H Q4-shaped order-priority census: per priority the order
    count, the count with at least one LATE lineitem (shipped > 90 days
    after the order date — the synth schema has no commit/receipt
    dates; 1136 of 1473 orders qualify at sf0.001, both branches fire),
    and the exact late ppm. The EXISTS shape: the late-key set is
    DISTINCT-aggregated before touching the priority census, and the
    census is a bounded 5-row aggregate."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        li.join(
            o.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .filter(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ) > 90
        )
        .select(F.col("l_orderkey").alias("late_key"))
        .distinct()
    )
    flagged = o.join(
        late, o.o_orderkey == F.col("late_key"), "left"
    ).select(
        "o_orderpriority",
        F.when(F.col("late_key").isNotNull(), F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("is_late"),
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("is_late").cast("long").alias("n_late"),
    ).select(
        "o_orderpriority", "n_orders", "n_late",
        F.expr("n_late * 1000000 div n_orders").cast("long")
        .alias("late_ppm"),
    )


def q_rel_streaks(spark, sf_dir):
    """Consecutive-day activity streaks (asof.activity_streaks): per
    user the active-day total, streak count, longest streak with its
    tz-free epoch start day (ties -> earliest), and the final streak's
    length — the engagement layer between weekly retention and sub-day
    debounce."""
    from unsupervised_ner_spark.ops.asof import activity_streaks

    return activity_streaks(_t(spark, sf_dir, "events"))


def q_er_chain_audit(spark, sf_dir):
    """Transitive over-merge audit (er.chain_audit) of the LSH+CC dedup
    clusters: per cluster the direct-pair completeness and the
    is_chained flag. Organic clusters are all direct-complete at both
    gate scales (measured — CC never glued an uncompared pair), so
    every 20th doc (residue 7) plants an A-B-C chain: a 3/5-PREFIX copy
    at +2,000,000 and a 3/5-SUFFIX copy at +3,000,000 — each overlaps
    the original enough to band-collide while sharing only the middle
    fifth with each other (J ~ 0.2, below the banding operating point)
    — 12/11 chained beside 28/27 complete clusters at sf0.001/0.01."""
    from unsupervised_ner_spark.ops.dedup import (
        adaptive_max_bucket, lsh_bucket_pairs,
    )
    from unsupervised_ner_spark.pipeline import er

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split(F.col("text"), " ", -1)
    n = F.size(ws)
    prefix = d.filter(F.col("doc_id") % 20 == 7).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(F.slice(ws, 1, F.expr(
            "(size(split(text, ' ', -1)) * 3 + 4) div 5"
        )), " ").alias("text"),
    )
    suffix = d.filter(F.col("doc_id") % 20 == 7).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.array_join(
            F.slice(
                ws,
                F.expr("(size(split(text, ' ', -1)) * 2) div 5 + 1"),
                n - F.expr("(size(split(text, ' ', -1)) * 2) div 5"),
            ),
            " ",
        ).alias("text"),
    )
    aug = d.unionByName(prefix).unionByName(suffix)
    cap = adaptive_max_bucket(aug.count())
    # ONE LSH candidate pass feeds both consumers (round-6: the former
    # dedup_clusters(aug) + lsh_bucket_pairs(aug) pair banded/shingled the
    # same corpus twice); the CC + size filter below is exactly
    # dedup_clusters' derivation over the shared persisted pair table.
    from unsupervised_ner_spark.caching import scoped_persist
    from unsupervised_ner_spark.pipeline.er import connected_components_star

    pairs = scoped_persist(lsh_bucket_pairs(aug, max_bucket=cap))
    edges = pairs.select(
        F.col("doc_a").alias("node_a"), F.col("doc_b").alias("node_b")
    )
    nodes = aug.select(F.col("doc_id").alias("node_id"))
    labels, _iters = connected_components_star(nodes, edges)
    sizes = labels.groupBy("component").agg(F.count("*").alias("n_docs"))
    clusters = (
        labels.join(sizes.filter(F.col("n_docs") >= 2), "component")
        .select(
            F.col("node_id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )
    return er.chain_audit(clusters, pairs)


def q_ann_filtered_topk(spark, sf_dir):
    """Metadata-filtered vector search (simsearch.filtered_topk):
    per query the top-5 among corpus vectors sharing the query's label,
    the predicate applied BEFORE scoring via a label-keyed equi-join
    (never post-filtering a global top-k), plus the per-query
    selectivity stat."""
    from unsupervised_ner_spark.ops.simsearch import filtered_topk

    return filtered_topk(_t(spark, sf_dir, "embeddings"))


def _polarity_docs(spark, sf_dir):
    """The Hearst splice PLUS a negated-is-a splice on residue 1 mod 3
    (disjoint doc sets): "<Hypo> is not a <hyper>" where the negated
    class is the REGULAR hyper table when (d%7 + d%5) % 3 == 0 (those
    pairs also occur positively on residue-0 docs -> contradicted) and
    a hyper2 class otherwise (never asserted positively ->
    negative_only); positive pairs outside the first rule stay
    positive_only — all three verdicts fire by construction."""

    def pick(terms, col):
        return F.element_at(
            F.array(*[F.lit(t) for t in terms]),
            (col % len(terms) + 1).cast("int"),
        )

    def art(noun):
        return F.when(
            F.substring(noun, 1, 1).isin("a", "e", "i", "o", "u"), F.lit("an")
        ).otherwise(F.lit("a"))

    d = F.col("doc_id")
    base = _hearst_docs(spark, sf_dir)
    hypo = pick(HEARST_HYPO, d)
    neg_hyper = F.when(
        (d % 7 + d % 5) % 3 == 0, pick(HEARST_HYPER, d)
    ).otherwise(pick(HEARST_HYPER2, F.expr("doc_id DIV 3")))
    neg = F.concat(
        F.lit("\n"), hypo, F.lit(" is not "), art(neg_hyper), F.lit(" "),
        neg_hyper,
    )
    return base.withColumn(
        "text",
        F.when(d % HEARST_MOD == 1, F.concat("text", neg))
        .otherwise(F.col("text")),
    )


def q_kg_isa_polarity(spark, sf_dir):
    """Polarity-aware is-a mining (taxonomy.isa_polarity): Hearst
    positives full-outer-joined with "is not a" negatives; per (hypo,
    hyper) the support of both polarities and the contradicted /
    positive_only / negative_only verdict — textual contradictions are
    the KG curator's hardest queue and the type classifier's best hard
    negatives. All three verdicts fire via the _polarity_docs splice
    (measured at both gate scales)."""
    from unsupervised_ner_spark.pipeline.taxonomy import isa_polarity

    sents = pages_to_sentences(_pages_of(_polarity_docs(spark, sf_dir))).select(
        "url", F.col("sent_idx").cast("long").alias("sent_idx"), "sent"
    )
    return isa_polarity(sents)


def q_kg_property_coverage(spark, sf_dir):
    """Per-type schema completeness (triples.property_coverage — the
    Wikidata/Recoin property-suggestion primitive): for every (subject
    type, predicate), the share of the type's entities carrying the
    predicate, as exact ppm over two cascaded distinct aggregates."""
    from unsupervised_ner_spark.pipeline.triples import property_coverage

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    return property_coverage(
        stages["triples"].select("subj", "subj_type", "pred_norm")
    )


def q_rel_salted_join(spark, sf_dir):
    """Skew-mitigated salted join (layout.salted_join, n_salt=8):
    orders x customer keyed on (custkey, md5-drawn per-row salt) with
    the dim replicated once per salt value — the manual hot-key
    counter. The oracle is the PLAIN equi-join: salting must change the
    partition histogram and nothing else (that identity IS the gate);
    the plan check pins the mechanism (dim-side x8 explode, composite
    sort-merge key)."""
    from unsupervised_ner_spark.ops.layout import salted_join

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("totalprice_cents"),
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return salted_join(o, c, "o_custkey", "c_custkey", "o_orderkey").select(
        "o_orderkey", "totalprice_cents", "c_custkey", "c_name",
        "c_mktsegment",
    )


def _ifp_splice_triples(spark, sf_dir):
    """Deterministic doc_id-derived splice for the IFP gate:
    'email_of' gives every person p<doc_id> a unique e<doc_id> address
    EXCEPT residue 3 mod 17, which collides on shared<doc_id % 4> —
    objects are overwhelmingly single-subject (IFP holds at 4/5) while
    the 4 shared addresses carry many subjects each (the merge
    suggestions). 'likes' routes everyone onto 5 objects — every
    object multi-subject, the predicate fails the IFP rule and its
    shared objects are EXCLUDED (the near/capital_of contrast of the
    conflict splice, reversed to the object side)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    email_obj = F.when(
        d % 17 == 3, F.concat(F.lit("shared"), (d % 4).cast("string"))
    ).otherwise(F.concat(F.lit("e"), d.cast("string")))
    email = docs.select(
        F.concat(F.lit("p"), d.cast("string")).alias("subj"),
        F.lit("email_of").alias("pred_norm"),
        email_obj.alias("obj"),
    )
    likes = docs.select(
        F.concat(F.lit("p"), d.cast("string")).alias("subj"),
        F.lit("likes").alias("pred_norm"),
        F.concat(F.lit("w"), (d % 5).cast("string")).alias("obj"),
    )
    return email.unionByName(likes)


def q_kg_ifp_merge(spark, sf_dir):
    """Inverse-functional-property identity resolution
    (triples.inverse_functional_merge): the obj-side mirror of the
    functionality rule — predicates whose objects are >= 4/5
    single-subject are IFP keys (email/ISBN/DOI semantics), and their
    multi-subject objects emit merge suggestions (two subjects sharing
    an IFP value are the same entity, no string similarity needed).
    Production triples UNION the _ifp_splice (the word-salad corpus has
    no obj-side-functional multi-subject predicate — measured: zero
    suggestion rows without the splice)."""
    from unsupervised_ner_spark.pipeline.triples import (
        inverse_functional_merge,
    )

    pages = _docs_as_pages(spark, sf_dir)
    stages = run_pipeline(pages, lang_filter=None)
    trip = stages["triples"].select("subj", "pred_norm", "obj")
    return inverse_functional_merge(
        trip.unionByName(_ifp_splice_triples(spark, sf_dir))
    )


SENTIMENT_NAMES = ["Acme", "Globex", "Initech", "Umbrella", "Hooli"]


def q_txt_instruction_density(spark, sf_dir):
    """Instruction-like content detection (textstats.instruction_density)
    over a CTA splice: every 11th doc gains two imperative + second-
    person lines ("Click here to subscribe now" / "Please enter your
    email to continue" — flagged at 2/3 density), every 22nd doc
    residue 13 gains ONE imperative among five neutral lines (present
    but under the 1/5 bar — unflagged), everything else is clean; all
    three branches measured at both gate scales."""
    from unsupervised_ner_spark.ops.textstats import instruction_density

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    cta = (
        "\nClick here to subscribe now"
        "\nPlease enter your email to continue"
    )
    weak = (
        "\nFollow the main road north"
        "\nthe road data follows here"
        "\nthe second figure follows below"
        "\nthe appendix follows at the end"
        "\nthe index follows last"
    )
    spliced = d.withColumn(
        "text",
        F.when(did % 11 == 0, F.concat("text", F.lit(cta)))
        .when(did % 22 == 13, F.concat("text", F.lit(weak)))
        .otherwise(F.col("text")),
    )
    return instruction_density(spliced)


def q_kg_entity_sentiment(spark, sf_dir):
    """Lexicon-vote entity sentiment (taxonomy.entity_sentiment) over a
    deterministic opinion splice: every 7th doc appends "<Name> is
    <adj>" — names 0-1 of the 5-name roster always draw positive
    adjectives, names 2-3 always negative, name 4 alternates (the mixed
    verdict); every 13th doc appends a lexicon-free "Neutralia stands
    here" (the neutral verdict). All four verdicts fire at both gate
    scales; adjectives rotate through the full shared lexicons."""
    from unsupervised_ner_spark.pipeline.taxonomy import (
        NEG_WORDS, POS_WORDS, entity_sentiment,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    nm = F.expr("(doc_id DIV 7) % 5")
    name = F.element_at(
        F.array(*[F.lit(n) for n in SENTIMENT_NAMES]), (nm + 1).cast("int")
    )
    pos_adj = F.element_at(
        F.array(*[F.lit(w) for w in POS_WORDS]), (did % 5 + 1).cast("int")
    )
    neg_adj = F.element_at(
        F.array(*[F.lit(w) for w in NEG_WORDS]), (did % 5 + 1).cast("int")
    )
    adj = (
        F.when(nm <= 1, pos_adj)
        .when(nm <= 3, neg_adj)
        .otherwise(
            F.when(F.expr("(doc_id DIV 35) % 2") == 0, pos_adj)
            .otherwise(neg_adj)
        )
    )
    spliced = d.withColumn(
        "text",
        F.when(
            did % 7 == 0,
            F.concat("text", F.lit("\n"), name, F.lit(" is "), adj),
        ).otherwise(F.col("text")),
    ).withColumn(
        "text",
        F.when(
            did % 13 == 0,
            F.concat("text", F.lit("\nNeutralia stands here")),
        ).otherwise(F.col("text")),
    )
    sents = pages_to_sentences(_pages_of(spliced)).select(
        "url", F.col("sent_idx").cast("long").alias("sent_idx"), "sent"
    )
    return entity_sentiment(sents)


def q_dedup_lsh_curve(spark, sf_dir):
    """LSH banding operating curve (dedup.lsh_operating_curve): for
    (bands, rows) = (8,1) / (4,2) / (2,4) over the SAME planted-copy
    truth er_blocking_quality uses, the measured candidate count /
    recall / precision / reduction ratio per config — the S-curve table
    that picks the banding instead of guessing it. One shingle+signature
    pass persisted; each config only re-bands the cached signatures."""
    from unsupervised_ner_spark.ops.dedup import lsh_operating_curve

    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ", -1)
    keep = F.expr("(size(split(text, ' ', -1)) * 4 + 4) div 5")
    copies = d.filter(F.col("doc_id") % 9 == 4).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(ws, 1, keep), " ").alias("text"),
    )
    aug = d.select("doc_id", "text").unionByName(copies)
    truth = d.filter(F.col("doc_id") % 9 == 4).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 1000000).alias("doc_b"),
    )
    return lsh_operating_curve(aug, truth, aug.count())


def q_er_fs_em_round(spark, sf_dir):
    """One FS EM re-estimation round (er.fs_em_round, ratio 45 — the
    same measured three-region operating point as er_fs_patterns):
    pairs relabelled by their pattern's decision region ('possible'
    abstains and leaves the M-step), per-feature m/u statistics
    recomputed under the new labels plus the labeled-pair count —
    read against er_em_weights to see how far the evidence moves each
    feature from the seed rule."""
    from unsupervised_ner_spark.pipeline import er

    return er.fs_em_round(q_er_pair_features(spark, sf_dir), ratio=45)


def q_rel_benford(spark, sf_dir):
    """Benford first-digit audit (asof.benford_audit): per (event_type,
    leading digit of the cents amount) the observed vs Benford ppm
    (fixed public log10(1+1/d) constants — no log evaluated in either
    engine) with per-digit and per-type L1 deviations — the
    data-quality / fraud screen over the value column."""
    from unsupervised_ner_spark.ops.asof import benford_audit

    return benford_audit(_t(spark, sf_dir, "events"))


def q_ann_mmr_rerank(spark, sf_dir):
    """MMR diversification re-rank (simsearch.mmr_rerank — Carbonell &
    Goldstein '98): per query 3 greedy picks from the brute-force
    top-10 maximizing (7*rel - 3*max-sim-to-picked) div 10 in exact
    milli-cosine integers; synchronized argmax rounds, bit-replayable."""
    from unsupervised_ner_spark.ops.simsearch import mmr_rerank

    return mmr_rerank(_t(spark, sf_dir, "embeddings"))


def q_er_meta_blocking(spark, sf_dir):
    """Meta-blocking (dedup.meta_blocking_pairs — Papadakis et al.
    TKDE'14): LSH co-block pairs weighted by the Common Blocks Scheme
    count, Weighted Node Pruning by the exact cross-multiplied
    endpoint-mean rule — the pruning layer that turns block-count
    redundancy into match evidence before any matcher runs. The pruned
    branch fires at sf0.001 (5 of 29 pairs); at sf0.01 the organic pair
    weights tie, so WNP keeps all (measured) — pruning under weight
    contrast is unit-tested (two strong pairs starve their cross
    pairs)."""
    from unsupervised_ner_spark.ops.dedup import meta_blocking_pairs

    return meta_blocking_pairs(_t(spark, sf_dir, "documents"))


def q_rel_wow_change(spark, sf_dir):
    """Week-over-week change per event type (asof.wow_change): weekly
    counts, exact delta + ppm change vs the previous active week,
    is_first sentinel rows for each type's opening week."""
    from unsupervised_ner_spark.ops.asof import wow_change

    return wow_change(_t(spark, sf_dir, "events"))


def q_dedup_survivorship(spark, sf_dir):
    """Quality-aware duplicate survivorship (curation
    .dedup_survivorship): per near-dup cluster keep the BEST copy
    (quality stage ASC, n_tokens DESC, doc_id ASC struct-min) instead
    of dedup_clusters' quality-blind min-id rule; organic clusters at
    both gate scales (22 / 25 measured)."""
    from unsupervised_ner_spark.ops.curation import dedup_survivorship

    return dedup_survivorship(_t(spark, sf_dir, "documents"))


def q_txt_curriculum(spark, sf_dir):
    """Quality-annealed curriculum ordering (curation.curriculum_order):
    good -> lowlex -> boilerplate -> short stages, md5-shuffled within
    a stage, ONE dense global rank via the two-level prefix sum (never
    a one-partition global window)."""
    from unsupervised_ner_spark.ops.curation import curriculum_order

    return curriculum_order(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline (pages -> ... -> triples) over sf0.001
    documents treated as the page corpus. (The north-rule end table with
    ER-canonicalized subject/object ids is the gated ``kg_canonical_triples``
    query — entry stays the fast zero-shuffle chain for smoke checks.)"""
    return q_kg_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every ``q_<name>`` function of this module as ``<name>``, in
    definition order, plus one alias: ``kg_ensemble_mentions`` gates the
    same production ensemble as ``kg_ensemble_mentions_prod``."""
    qs = {n[2:]: f for n, f in globals().items() if n.startswith("q_") and callable(f)}
    qs["kg_ensemble_mentions"] = q_kg_ensemble_mentions_prod
    return qs


def oracle_sql() -> dict[str, str]:
    """The DuckDB twin of every ``queries()`` key: ``O.<name>()`` unless
    the table below says otherwise (arguments, a shared oracle, or inline
    SQL). A key with neither raises ``AttributeError``."""
    special: dict[str, Callable[[], str]] = {
        "kg_hits": lambda: O.kg_hits(rounds=2),
        "kg_landmark_centrality": lambda: O.kg_landmark_centrality(rounds=3, n_seeds=3),
        "kg_modularity": lambda: O.kg_modularity(iterations=4),
        "kg_kge_eval": lambda: O.kg_kge_eval(dim=4, emb_mod=1000),
        "kg_kge_distmult": lambda: O.kg_kge_eval(dim=4, emb_mod=1000, score_fn="distmult"),
        "kg_kge_complex": lambda: O.kg_kge_eval(dim=4, emb_mod=1000, score_fn="complex"),
        "kg_anf": lambda: O.kg_anf(rounds=2),
        "kg_mis": lambda: O.kg_mis(rounds=3),
        "kg_coloring": lambda: O.kg_coloring(rounds=3),
        "kg_topo_layers": lambda: O.kg_topo_layers(rounds=5),
        "txt_c4_filters": lambda: O.txt_c4_filters(
            C4_LOREM_REM, C4_BRACE_REM, C4_POLICY_REM, mod=C4_MOD,
        ),
        "rel_retention": lambda: O.rel_retention(
            period_days=7, churn_mod=RETENTION_CHURN_MOD,
            churn_day=RETENTION_CHURN_DAY, late_day=RETENTION_LATE_DAY,
        ),
        "txt_vocab_drift": lambda: O.txt_vocab_drift(
            ratio_num=2, a_splice=DRIFT_A_SPLICE, b_splice=DRIFT_B_SPLICE,
        ),
        "kg_matching": lambda: O.kg_matching(rounds=2),
        "kg_bipartite": lambda: O.kg_bipartite(rounds=4),
        "kg_lca": lambda: O.kg_lca(
            HEARST_MOD, HEARST_HYPO, HEARST_HYPER, HEARST_HYPER2
        ),
        "kg_role_facts": lambda: O.kg_role_facts(
            ROLE_MOD, ROLE_PERSONS, ROLE_ROLES, ROLE_ORGS,
        ),
        "kg_measurements": lambda: O.kg_measurements(
            MEAS_MOD, MEAS_REM, MEAS_ENTS, MEAS_VERBS, MEAS_UNIT_TERMS,
        ),
        "rel_bloom_semijoin": lambda: O.rel_bloom_semijoin(m=1024, k=2),
        "kg_acronyms": lambda: O.kg_acronyms(
            ACRO_MOD, ACRO_VALID_REM, ACRO_BOGUS_REM, ACRO_LONG, ACRO_SHORT,
            ACRO_BOGUS_SHORT,
        ),
        "kg_densest": lambda: O.kg_densest(rounds=4),
        "kg_coreness": lambda: O.kg_coreness(rounds=3),
        "txt_max_coverage": lambda: O.txt_max_coverage(k=5),
        "kg_path_counts": lambda: O.kg_path_counts(rounds=3, n_seeds=3),
        "kg_ego_export": lambda: O.kg_ego_export(hops=2),
        "kg_betweenness": lambda: O.kg_betweenness(rounds=3, n_seeds=3),
        "er_sorted_neighborhood": lambda: O.er_sorted_neighborhood(window=3, max_lev=2),
        "kg_hearst_hypernyms": lambda: O.kg_hearst_hypernyms(
            HEARST_MOD, HEARST_HYPO, HEARST_HYPER, HEARST_HYPER2
        ),
        "kg_taxonomy_2hop": lambda: O.kg_taxonomy_2hop(
            HEARST_MOD, HEARST_HYPO, HEARST_HYPER, HEARST_HYPER2
        ),
        "kg_taxonomy_closure": lambda: O.kg_taxonomy_closure(
            HEARST_MOD, HEARST_HYPO, HEARST_HYPER, HEARST_HYPER2
        ),
        "kg_taxonomy_rollup": lambda: O.kg_taxonomy_rollup(
            HEARST_MOD, HEARST_HYPO, HEARST_HYPER, HEARST_HYPER2
        ),
        "kg_transitive_reduction": lambda: O.kg_transitive_reduction(
            HEARST_MOD, HEARST_HYPO, HEARST_HYPER, HEARST_HYPER2
        ),
        "rel_funnel": lambda: O.rel_funnel(drop_mod=FUNNEL_DROP_MOD),
        "kg_closure_delta": lambda: O.kg_closure_delta(
            HEARST_MOD, HEARST_HYPO, HEARST_HYPER, HEARST_HYPER2
        ),
        "kg_appositive_types": lambda: O.kg_appositive_types(
            APPOS_MOD, APPOS_INST, APPOS_CLS
        ),
        "txt_sent_dedup": lambda: O.txt_sent_dedup(
            HEARST_MOD, HEARST_HYPO, HEARST_HYPER, HEARST_HYPER2
        ),
        "dedup_shared_ngrams": lambda: O.dedup_shared_ngrams(
            HEARST_MOD, HEARST_HYPO, HEARST_HYPER, HEARST_HYPER2
        ),
        "dedup_substring_runs": lambda: O.dedup_substring_runs(
            RUNS_MOD, RUNS_HALF_RES, RUNS_BLOCKS, RUNS_HALF_TOKS
        ),
        "dedup_apply_cuts": lambda: O.dedup_apply_cuts(
            RUNS_MOD, RUNS_HALF_RES, RUNS_BLOCKS, RUNS_HALF_TOKS
        ),
        "rel_gap_fill": lambda: O.rel_gap_fill(GAP_FILL_MOD, GAP_FILL_REM),
        "rel_sequence_patterns": lambda: O.rel_sequence_patterns(SEQ_MOD, SEQ_REM),
        "kg_conjunct_facts": lambda: O.kg_conjunct_facts(CONJ_MOD, CONJ_REM, CONJ_VERBS),
        "kg_shacl_card": lambda: O.kg_shacl_card(SHACL_SHAPES),
        "kg_louvain_move": lambda: O.kg_louvain_move(iterations=4),
        "kg_temporal_conflicts": lambda: O.kg_temporal_conflicts(
            day_mod=TEMPORAL_DAY_MOD,
        ),
        "rel_histogram": lambda: O.rel_histogram(n_buckets=20),
        "rel_q18_bigcust": lambda: O.rel_q18_bigcust(min_qty=250),
        "txt_span_corruption": lambda: O.txt_span_corruption(noise_pct=15),
        "er_fs_patterns": lambda: O.er_fs_patterns(ratio=45),
        "mm_caption_groups": lambda: O.mm_caption_groups(splice_mod=25),
        "rel_q4_priority": lambda: O.rel_q4_priority(late_days=90),
        "kg_isa_polarity": lambda: O.kg_isa_polarity(
            HEARST_MOD, HEARST_HYPO, HEARST_HYPER, HEARST_HYPER2
        ),
        "er_fs_em_round": lambda: O.er_fs_em_round(ratio=45),
        "kg_entity_sentiment": lambda: O.kg_entity_sentiment(SENTIMENT_NAMES),
        "rel_hopping_window": lambda: O.rel_hopping_window(width_days=7),
        "dedup_lsh_stats": lambda: O.dedup_lsh_stats(max_bucket=2),
        "kg_ensemble_mentions_prod": lambda: O.kg_ensemble_mentions(),
        "dedup_incremental": lambda: O.dedup_incremental(DEDUP_INGEST_SPLIT),
        "dedup_snapshot_diff": lambda: O.dedup_snapshot_diff(SNAPDIFF_OLD, SNAPDIFF_NEW_FROM, SNAPDIFF_MUT),
        "txt_lang_mix": lambda: O.txt_lang_mix(LANG_MIX_MOD),
        "txt_domain_stats": lambda: O.txt_domain_stats(URL_BLOCKLIST),
        "rel_agg_scan": lambda: """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
                   count(*) AS n_rows,
                   count(DISTINCT l_orderkey) AS n_orders
            FROM lineitem
            WHERE l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "rel_join_topk": lambda: """
            SELECT c_mktsegment, CAST(rank AS BIGINT) AS rank, o_orderkey
            FROM (
                SELECT c.c_mktsegment, o.o_orderkey,
                       row_number() OVER (PARTITION BY c.c_mktsegment
                                          ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rank
                FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            ) WHERE rank <= 3
        """,
        "rel_window_sessions": lambda: """
            WITH g AS (
                SELECT user_id,
                       CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                              OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                            THEN 1 ELSE 0 END AS ns
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "rel_asof_join": lambda: """
            WITH ev AS (
                SELECT event_id, ts, user_id,
                       CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side
                FROM events WHERE event_type IN ('view', 'click')
            ),
            x AS (
                SELECT *,
                       last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
                           OVER w AS view_event_id,
                       last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                           OVER w AS view_ts
                FROM ev
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, side,
                                      CASE WHEN side = 0 THEN event_id END
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(event_id AS BIGINT) AS click_event_id,
                   CAST(view_event_id AS BIGINT) AS view_event_id,
                   CAST(date_diff('microsecond', view_ts, ts) AS BIGINT) AS gap_us
            FROM x WHERE side = 1
        """,
        "rel_set_union": lambda: """
            SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
            UNION
            SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier
        """,
        "rel_rollup": lambda: """
            SELECT coalesce(event_type, 'ALL') AS event_type, count(*) AS n
            FROM events GROUP BY ROLLUP (event_type)
        """,
        # full recompute — proves the engine's incremental merge exactly
        "kg_cooccurrence_delta": lambda: O.kg_cooccurrence(),
        "kg_taxonomy_depth": lambda: O.kg_taxonomy_depth(
            HEARST_MOD, HEARST_HYPO, HEARST_HYPER, HEARST_HYPER2
        ),
        "kg_asof_snapshot": lambda: O.kg_asof_snapshot(ASOF_DAY),
        # full fixpoint over ALL edges — proves incremental == recompute
        "er_components_delta": lambda: O.er_components(),
        "rel_zone_map": lambda: O.rel_zone_map(*ZQ_BOX),
    }
    return {
        name: special[name]() if name in special else getattr(O, name)()
        for name in queries()
    }
