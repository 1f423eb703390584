"""First-generation (v1, text-mode) ensemble + tokenization-divergence
reconciliation.

Two reference behaviors live here, both re-expressed as pure column algebra:

1. **v1 precedence merge** (ensemble/aggregate_server.py:87-131
   ``get_ensembled_entity_frags`` + the two ``override_bio_prediction*``
   quirks): for each aligned position, servers are consulted in fixed order
   (bio first, phi second); the FIRST server whose prediction group is in
   its OWN precedence list wins, except
   - override 1 (:90-95): bio wins but phi's group is SOCIAL_CIRCUMSTANCES
     or ORGANIZATION -> emit dual "PHI_GROUP/BIO_GROUP" (groups only, phi
     first — the reference concatenates the override group first);
   - override 2 (:97-103): bio says MEASURE and phi's group is in the phi
     precedence list -> phi's FULL prediction (with subtype) wins.
   If neither server's group is in its own list the reference asserts
   (aggregate_server.py:129 ``assert(len(match_arr) == 1)``) — that branch
   is unreachable in the reference deployment (the phi list contains every
   phi-space group incl. OTHER/UNTAGGED_ENTITY); the engine totalizes it to
   the phi prediction and documents the divergence here.

2. **min-length tokenization reconciliation**
   (``confirm_same_size_responses``, aggregate_server_json.py:331-348):
   when two models tokenize differently (the reference's "truncated
   sentence, where tokenization causes different length truncations"), the
   ensemble processes only the first ``min(len_a, len_b)`` positions,
   aligned positionally. ``variant_tokenized`` provides a deliberately
   divergent second tokenizer (max-piece-length-6 chunking — a crude
   wordpiece stand-in) that is byte-identically replayable in the DuckDB
   oracle, and ``reconciled_token_tags`` makes the truncation observable as
   a gated query.

BIO emission follows ``gen_ensembled_sentence`` (aggregate_server.py:
134-163): underscore-prefixed ``B_``/``I_`` tags, 'O' outside spans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unsupervised_ner_spark.pipeline.tagging import tag_sentences, tagged_to_token_tags

# override_bio_prediction1 (aggregate_server.py:90-95): "for the first cut"
# hard-coded phi-space groups that decorate a winning bio prediction
OVERRIDE1_GROUPS = ("SOCIAL_CIRCUMSTANCES", "ORGANIZATION")

# The v1 server hard-codes its OWN precedence arrays
# (aggregate_server.py:15-37) — they differ from the v2 config.json lists
# the maze uses (v2 moved MEASURE/OBJECT/OTHER/UNTAGGED_ENTITY into a shared
# common_entities_arr); v1 fidelity requires v1's lists.
V1_BIO_PRECEDENCE = [
    "THERAPEUTIC_OR_PREVENTIVE_PROCEDURE",
    "DISEASE",
    "GENE",
    "BODY_PART_OR_ORGAN_COMPONENT",
    "ORGANISM_FUNCTION",
    "BIO",
    "OBJECT",
    "MEASURE",
]
V1_PHI_PRECEDENCE = [
    "PERSON",
    "ORGANIZATION",
    "ENT",
    "LOCATION",
    "COLOR",
    "LANGUAGE",
    "GRAMMAR_CONSTRUCT",
    "OTHER",
    "UNTAGGED_ENTITY",
    "SOCIAL_CIRCUMSTANCES",
    "MEASURE",
]


def _grp(pred: Column) -> Column:
    return F.split(pred, r"\[")[0]


def v1_pick_expr(
    pred_a: Column, pred_b: Column, bio_prec: Column, phi_prec: Column
) -> Column:
    """The v1 per-position precedence pick (aggregate_server.py:105-131).

    ``pred_a`` is the bio server's full prediction ("GROUP" or
    "GROUP[SUBTYPE]"), ``pred_b`` the phi server's; ``bio_prec``/``phi_prec``
    are array<string> Columns of the two precedence lists."""
    ga, gb = _grp(pred_a), _grp(pred_b)
    dual = F.concat(gb, F.lit("/"), ga)  # override 1: groups only, phi first
    return (
        F.when(
            F.array_contains(bio_prec, ga),
            F.when(gb.isin(*OVERRIDE1_GROUPS), dual)
            .when(
                (ga == "MEASURE") & F.array_contains(phi_prec, gb), pred_b
            )
            .otherwise(pred_a),
        )
        .when(F.array_contains(phi_prec, gb), pred_b)
        # reference asserts here (aggregate_server.py:129) — unreachable in
        # its deployment; totalized to the phi prediction
        .otherwise(pred_b)
    )


def _prec_arrays() -> tuple[Column, Column]:
    lit_arr = lambda xs: F.array(*[F.lit(x) for x in xs])  # noqa: E731
    return lit_arr(V1_BIO_PRECEDENCE), lit_arr(V1_PHI_PRECEDENCE)


def ensemble_v1_tags(
    sentences: DataFrame, model_a: str = "a100", model_b: str = "bbc"
) -> DataFrame:
    """v1 text-mode ensemble: two tagging branches over the SAME
    tokenization, per-mention precedence pick, BIO emission
    (gen_ensembled_sentence twin). Returns (url, sent_idx, token_idx, word,
    tag)."""
    bio_prec, phi_prec = _prec_arrays()

    def mention_rows(tagged: DataFrame, x: str) -> DataFrame:
        m = tagged.select(
            "url", "sent_idx", F.posexplode("mentions").alias("mention_idx", "m")
        )
        return m.select(
            "url", "sent_idx", "mention_idx",
            F.col("m.begin_tok").alias(f"begin_{x}"),
            F.col("m.end_tok").alias(f"end_{x}"),
            F.col("m.prediction").alias(f"pred_{x}"),
        )

    from unsupervised_ner_spark.caching import scoped_persist

    # branch A feeds BOTH the mention join and the token emission — two
    # consumers, so it takes a lazy localCheckpoint (caching policy); branch
    # B is single-consumer and stays unmaterialized
    ta = scoped_persist(
        tag_sentences(sentences, model=model_a, detail=False), how="checkpoint"
    )
    tb = tag_sentences(sentences, model=model_b, detail=False)
    j = mention_rows(ta, "a").join(
        mention_rows(tb, "b"), ["url", "sent_idx", "mention_idx"]
    )
    picked = j.select(
        "url", "sent_idx",
        F.col("begin_a").alias("begin_tok"),
        # min-span re-sync, as in the v2 path (get_span_info analogue)
        F.least("end_a", "end_b").alias("end_tok"),
        v1_pick_expr(F.col("pred_a"), F.col("pred_b"), bio_prec, phi_prec).alias(
            "resolution"
        ),
    )
    # sentence-level emission: no token-level exchange (VERDICT r03 item 4)
    from unsupervised_ner_spark.pipeline.tagging import emit_resolved_span_tags

    return emit_resolved_span_tags(ta, picked)


# ---------------------------------------------------------------------------
# tokenization-divergence reconciliation
# ---------------------------------------------------------------------------

VARIANT_MAX_PIECE = 6  # max-piece-length chunking: the divergent tokenizer


def variant_tokenized(sentences: DataFrame) -> DataFrame:
    """A deliberately DIVERGENT second tokenizer: every run of 6 non-space
    characters gets a space appended (crude max-piece-length wordpiece) —
    any word longer than 6 chars splits into more tokens than the standard
    whitespace tokenizer produces. Engine-portable: the DuckDB oracle
    replays ``regexp_replace(sent, '(\\S{6})', '\\1 ', 'g')`` byte-for-byte."""
    v = F.trim(F.regexp_replace(F.col("sent"), r"(\S{6})", "$1 "))
    return sentences.withColumn("sent", v)


def reconciled_token_tags(
    sentences: DataFrame, model_a: str = "a100", model_b: str = "bbc"
) -> DataFrame:
    """Two branches with genuinely DIFFERENT tokenizations, reconciled the
    reference's way (confirm_same_size_responses,
    aggregate_server_json.py:331-348): positions beyond
    ``min(n_tokens_a, n_tokens_b)`` are dropped, surviving positions align
    positionally (the reference does no smarter alignment — that crudeness
    IS the contract), and each surviving position resolves via the v1
    precedence pick on the stripped predictions.

    Returns (url, sent_idx, token_idx, word_a, word_b, tag_a, tag_b,
    resolution) for token_idx < min(n_a, n_b)."""
    bio_prec, phi_prec = _prec_arrays()

    tags_a = tagged_to_token_tags(
        tag_sentences(sentences, model=model_a, detail=False)
    ).select(
        "url", "sent_idx", "token_idx",
        F.col("word").alias("word_a"), F.col("tag").alias("tag_a"),
    )
    tags_b = tagged_to_token_tags(
        tag_sentences(variant_tokenized(sentences), model=model_b, detail=False)
    ).select(
        "url", "sent_idx", "token_idx",
        F.col("word").alias("word_b"), F.col("tag").alias("tag_b"),
    )
    # min-length truncation: the inner join on token_idx keeps exactly the
    # positions < min(n_a, n_b) — token indices are dense 0..n-1 per branch
    j = tags_a.join(tags_b, ["url", "sent_idx", "token_idx"])

    strip = lambda t: F.regexp_replace(t, r"^[BI]_", "")  # noqa: E731
    pa, pb = strip(F.col("tag_a")), strip(F.col("tag_b"))
    resolution = (
        F.when((F.col("tag_a") == "O") & (F.col("tag_b") == "O"), F.lit("O"))
        .when(F.col("tag_a") == "O", pb)
        .when(F.col("tag_b") == "O", pa)
        .otherwise(v1_pick_expr(pa, pb, bio_prec, phi_prec))
    )
    return j.select(
        "url", "sent_idx", "token_idx", "word_a", "word_b", "tag_a", "tag_b",
        resolution.alias("resolution"),
    )
