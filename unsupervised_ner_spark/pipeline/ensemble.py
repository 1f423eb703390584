"""Two-model ensemble (J5): bio + phi pipelines joined and conflict-resolved.

Re-expresses ensemble/aggregate_server_json.py end-to-end:
- thread fan-out to 2 NER servers (:416-457)  -> two DataFrame branches
- the FULL resolution maze — layer-1 server pick + layer-2
  gen_resolved_entity emission chain — lives in
  ``pipeline/ensemble_rules.py`` (one Column-algebra implementation;
  rule-by-rule citations there), driven here by each detail-mode
  mention's top pooled confidence and packed CS/CI distributions
  (MENTION.conf/cs_dist/ci_dist).
- span re-sync ("Picking min span length", :84-88 + get_span_info
  :500-517): the two branches share mention detection (same tokenizer), so
  spans align by construction — but the join deliberately keys on
  (url, sent_idx, mention_idx, begin_tok) ONLY and takes the MIN end_tok
  across models, so a model-specific casing/tokenization divergence (the
  reference's failure mode) degrades to the reference's min-span behavior
  instead of silently dropping mentions.

Everything is pure column algebra over the nested tagged rows: the only
exchange is the mention-level equi-join of the two branches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unsupervised_ner_spark import dims
from unsupervised_ner_spark.pipeline import ensemble_rules as R
from unsupervised_ner_spark.pipeline.tagging import tag_sentences


def _mention_rows(tagged: DataFrame, suffix: str) -> DataFrame:
    m = tagged.select(
        "url", "sent_idx",
        F.posexplode("mentions").alias("mention_idx", "m"),
    )
    return m.select(
        "url", "sent_idx", "mention_idx",
        F.col("m.surface").alias(f"surface_{suffix}"),
        F.col("m.begin_tok").alias("begin_tok"),
        F.col("m.end_tok").alias(f"end_{suffix}"),
        F.col("m.prediction").alias(f"pred_{suffix}"),
        F.col("m.conf").alias(f"conf_{suffix}"),
        F.col("m.cs_dist").alias(f"cs_{suffix}"),
        F.col("m.ci_dist").alias(f"ci_{suffix}"),
    )


def resolve_ensemble(ma: DataFrame, mb: DataFrame) -> DataFrame:
    """Join per-mention results of model A (bio) and model B (phi) and apply
    the full conflict-resolution maze. Returns mention rows with
    ``resolution`` (possibly a dual 'X/Y' label) and the min-span
    ``end_tok``."""
    prec = dims.load_precedence()
    bio = prec["bio_precedence_arr"]
    phi = prec["phi_precedence_arr"]
    common = prec["common_entities_arr"]
    lit_arr = lambda xs: F.array(*[F.lit(x) for x in xs])  # noqa: E731

    j = ma.join(mb, ["url", "sent_idx", "mention_idx", "begin_tok"], "inner")
    resolution = R.resolve_expr(
        F.col("pred_a"), F.col("conf_a"), F.col("cs_a"), F.col("ci_a"),
        F.col("pred_b"), F.col("conf_b"), F.col("cs_b"), F.col("ci_b"),
        bio_prec=lit_arr(bio), bio_ok=lit_arr(bio + common),
        phi_prec=lit_arr(phi), phi_ok=lit_arr(phi + common),
    )
    return j.select(
        "url", "sent_idx", "mention_idx",
        F.col("surface_a").alias("surface"), "begin_tok",
        F.least("end_a", "end_b").alias("end_tok"),  # min-span re-sync
        "pred_a", "pred_b", resolution.alias("resolution"),
    )


def ensemble_tags(
    sentences: DataFrame, model_a: str = "a100", model_b: str = "bbc"
) -> DataFrame:
    """sentences -> ensembled token-level BIO tags (url, sent_idx, token_idx,
    word, tag)."""
    from unsupervised_ner_spark.caching import scoped_persist

    # branch A feeds both the mention join and the token emission (two
    # consumers) -> lazy localCheckpoint; branch B is single-consumer
    ta = scoped_persist(
        tag_sentences(sentences, model=model_a, detail=True), how="checkpoint"
    )
    tb = tag_sentences(sentences, model=model_b, detail=True)
    resolved = resolve_ensemble(_mention_rows(ta, "a"), _mention_rows(tb, "b"))
    # W2/W3: copy the resolution across the span, B_ on the head —
    # sentence-level emission (see emit_resolved_span_tags: no token-level
    # exchange)
    from unsupervised_ner_spark.pipeline.tagging import emit_resolved_span_tags

    return emit_resolved_span_tags(ta, resolved)
