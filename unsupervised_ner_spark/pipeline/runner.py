"""End-to-end orchestration: pages -> sentences -> tagged -> tags/triples.

The full single-model chain is ONE narrow pipeline (scan -> project/filter ->
posexplode -> ArrowEvalPython -> project) — Catalyst plans it without any
exchange; see SURVEY.md §3.1 "Spark re-expression".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unsupervised_ner_spark.kernel.constants import CI_TEMPLATE, MASK_TAG
from unsupervised_ner_spark.pipeline.tagging import (
    tag_sentences,
    tagged_to_token_tags,
)
from unsupervised_ner_spark.pipeline.text import pages_to_sentences
from unsupervised_ner_spark.pipeline.triples import tagged_to_triples


def run_pipeline(
    pages: DataFrame,
    model: str = "a100",
    lang_filter: str | None = "en",
    detail: bool = False,
) -> dict[str, DataFrame]:
    """Returns the lazily-planned stage DataFrames keyed by stage name."""
    if lang_filter:
        # partition-prunable predicate at the scan (SURVEY.md §4.2)
        pages = pages.filter(F.col("lang") == lang_filter)
    sentences = pages_to_sentences(pages)
    tagged = tag_sentences(sentences, model=model, detail=detail)
    return {
        "pages": pages,
        "sentences": sentences,
        "tagged": tagged,
        "tags": tagged_to_token_tags(tagged),
        "triples": tagged_to_triples(tagged),
    }


def typed_mentions_from_tagged(tagged: DataFrame) -> DataFrame:
    """Flatten the production tagged output to the typed-mention table
    (url, sent_idx, mention_idx, begin_tok, end_tok, surface, pred_group,
    prediction) — the row shape of the DuckDB ``kg_typed_mentions`` oracle.

    Every typed-mention consumer (kg_typed_mentions, ER, the canonical-triple
    end table) feeds off the SINGLE narrow tagging pass instead of
    re-deriving the mention/typing chain (VERDICT r02 "What's wrong" 2 —
    kg_canonical_triples ran the corpus twice). Narrow: one posexplode, no
    exchange."""
    m = tagged.select(
        "url", "sent_idx", F.posexplode("mentions").alias("mention_idx", "m")
    )
    return m.select(
        "url",
        "sent_idx",
        "mention_idx",
        F.col("m.begin_tok").alias("begin_tok"),
        F.col("m.end_tok").alias("end_tok"),
        F.col("m.surface").alias("surface"),
        F.split(F.col("m.prediction"), r"\[")[0].alias("pred_group"),
        F.col("m.prediction").alias("prediction"),
    )


def masked_mentions_from_tagged(tagged: DataFrame) -> DataFrame:
    """The production mentions with their CS masked sentence and CI probe
    (url, sent_idx, mention_idx, begin_tok, end_tok, surface, masked_sent,
    ci_probe), rebuilt as column algebra from the tagged row's ``words``
    and the mention's span — the row shape of the DuckDB ``kg_masks``
    oracle. Narrow: one posexplode, no exchange.

    The mask is ``words`` with the span replaced by one ``__entity__``
    (kernel/spans.py:masked_sentence); the probe capitalizes each span word
    whose first TWO letters are lowercase (batched_main_NER.py:327-335),
    Unicode-aware like the kernel's ``str.islower`` (``\\p{Ll}``)."""
    m = tagged.select(
        "url", "sent_idx", "words",
        F.posexplode("mentions").alias("mention_idx", "m"),
    )
    words, n = F.col("words"), F.size("words")
    b, e = F.col("m.begin_tok"), F.col("m.end_tok")
    masked = F.array_join(
        F.concat(
            F.slice(words, 1, b),
            F.array(F.lit(MASK_TAG)),
            F.slice(words, e + 2, n - e - 1),
        ),
        " ",
    )
    cap = F.transform(
        F.split(F.col("m.surface"), " "),
        lambda t: F.when(
            t.rlike(r"^\p{Ll}\p{Ll}"),
            F.concat(F.upper(t.substr(F.lit(1), F.lit(1))), t.substr(F.lit(2), F.length(t))),
        ).otherwise(t),
    )
    probe = F.format_string(CI_TEMPLATE, F.array_join(cap, " "))
    return m.select(
        "url",
        "sent_idx",
        "mention_idx",
        b.alias("begin_tok"),
        e.alias("end_tok"),
        F.col("m.surface").alias("surface"),
        masked.alias("masked_sent"),
        probe.alias("ci_probe"),
    )


def doc_yield(pages: DataFrame, model: str = "a100") -> DataFrame:
    """Per-document KG-yield dashboard: for every page, how much KG came
    out of it — sentence / mention / typed-mention / distinct-entity /
    triple counts (zero-filled for pages the chain dropped). The corpus
    triage table: a crawl slice with high sentence count but near-zero
    entity yield is boilerplate or out-of-domain and gets down-weighted
    by the mix planner before the expensive typing pass runs at scale.

    Scale shape: the tagged pass is persisted ONCE and feeds both the
    mention stats and the triple derivation; everything else is a
    map-side-combining aggregate keyed on url, joined url-to-url
    (co-partitioned equi-joins on the same key, AQE-coalesced). No
    corpus-wide sort or window."""
    from unsupervised_ner_spark.caching import scoped_persist
    from unsupervised_ner_spark.pipeline.er import norm_surface_col

    stages = run_pipeline(pages, lang_filter=None, model=model)
    tagged = scoped_persist(stages["tagged"])
    typed = typed_mentions_from_tagged(tagged)

    n_sents = (
        stages["sentences"].groupBy("url")
        .agg(F.count("*").cast("long").alias("n_sents"))
    )
    norm = norm_surface_col(F.col("surface"))
    keep = (F.col("pred_group") != "OTHER") & (F.length(norm) > 0)
    mstats = (
        typed.select(
            "url",
            keep.alias("keep"),
            F.when(keep, F.concat_ws("|", norm, F.col("pred_group"))).alias("entkey"),
        )
        .groupBy("url")
        .agg(
            F.count("*").cast("long").alias("n_mentions"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_typed"),
            F.countDistinct("entkey").cast("long").alias("n_entities"),
        )
    )
    n_triples = (
        tagged_to_triples(tagged).groupBy("url")
        .agg(F.count("*").cast("long").alias("n_triples"))
    )
    universe = pages.select("url")
    out = (
        universe.join(n_sents, "url", "left")
        .join(mstats, "url", "left")
        .join(n_triples, "url", "left")
    )
    fill = {c: F.coalesce(F.col(c), F.lit(0)).alias(c)
            for c in ("n_sents", "n_mentions", "n_typed", "n_entities", "n_triples")}
    return out.select("url", *fill.values())
