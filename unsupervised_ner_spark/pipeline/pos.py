"""POS-driven mention detection — the reference-faithful ingestion path.

The reference drives mention detection with a REAL POS tagger (jPTDP over
HTTP; config.json:1): tokens arrive as (word, tag) rows and a mention is a
maximal run of tokens whose tag is in ``noun_tags``
(/root/reference/ensemble/utils/common.py:11 noun_tags,
:15-31 generate_masked_sentences; TSV parsing batched_main_NER.py:91-108
extract_POS). Round 1 replaced this with the heuristic "POS-lite"
(kernel/spans.py) — this module closes that fidelity gap with TWO pieces:

1. ``mentions_from_tagged_tokens`` — the INGESTION CONTRACT: accepts
   externally-tagged tokens (url, sent_idx, token_idx, word, tag) from ANY
   tagger (jPTDP, spaCy, CoreNLP, ...) and replicates the exact noun_tags
   run semantics. This is what a production deployment feeds from its real
   tagger output.
2. ``synth_pos_tag`` / ``tagged_tokens`` — a deterministic rule tagger used
   ONLY to fabricate tagged fixtures for tests/benchmarks (no external
   tagger ships in this environment). It is SQL-expressible, so the DuckDB
   oracle (oracle_sql.kg_mentions_pos) replays it bit-identically — the
   correctness gate therefore verifies the run-grouping semantics, not the
   toy tagger.

Marker dispatch mirrors set_POS_based_on_entities (common.py:66-79): in a
sentence containing ``:__entity__`` markers, marked tokens get NNP and all
others RESET — POS is bypassed exactly as the reference bypasses it.

Scale: tagging is a narrow projection; the only exchange is the
(url, sent_idx) run-grouping window of ``tokens_to_mentions``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unsupervised_ner_spark.kernel.constants import (
    INPUT_MASK_TAG,
    NOUN_TAGS,
    RESET_POS_TAG,
)

# TRUE closed-class words only (determiners, conjunctions, prepositions,
# pronouns, auxiliaries, qualifiers) — deliberately NOT kernel.spans
# FUNCTION_WORDS, which additionally blacklists ~40 open-class verbs
# ("felt", "treats", "causes", ...) as a heuristic hack. A tagger knows
# verbs morphologically/lexically, so this path keeps the closed class pure
# and routes verbs through VERB_LEXICON below — making the two mention
# paths genuinely divergent where POS-lite errs (see POS_DIVERGENCE.md).
CLOSED_CLASS = sorted(
    """
    a an the this that these those some any each every no such
    and or but nor so yet either neither both whether because although though
    while if unless until since when whenever where wherever after before as
    i you he she it we they me him her us them my your his its our their mine
    yours hers ours theirs myself yourself himself herself itself ourselves
    themselves who whom whose which what
    am is are was were be been being do does did doing have has had having
    will would shall should can could may might must ought
    not never also just only even still too very quite rather almost
    of to in on at by for from with about against between into through during without
    within along across behind beyond plus except up down out off over under
    below above beneath toward towards upon onto via per amid among
    again further then once here there why how all more most other another
    """.split()
)

# Common verb forms a lexical tagger resolves that POS-lite's suffix rules
# miss: bare/irregular pasts and 3rd-person forms with no -ed/-ing marker.
VERB_LEXICON = sorted(
    """
    felt said says say take takes took make makes made get gets got
    went goes go come comes came give gives gave win wins won lose loses lost
    indicate indicates treat treats suffer suffers cause causes beat beats
    flew fly flies rode ride rides died dies led lead leads works work
    ran run runs saw see sees sought brought bought taught thought told tell
    tells kept keep keeps held hold holds met meet meets paid pay pays
    """.split()
)

# Lowercase -ing/-ed words that are NOUNS (gerund-derived or lexicalized) —
# a real tagger tags these NN where a suffix rule would call them verbal.
ING_NOUNS = sorted(
    """
    beginning morning evening building wedding ring king spring string
    thing something nothing anything everything ceiling feeling meeting
    painting drawing clothing lightning
    """.split()
)


def tokens_col(sent: Column) -> Column:
    """Whitespace tokenization, collapsing runs like str.split()."""
    return F.filter(F.split(sent, r"\s+"), lambda t: t != F.lit(""))


def strip_marker(tok: Column) -> Column:
    """Remove ALL occurrences of ':__entity__' (str.replace semantics,
    common.py:74)."""
    return F.replace(tok, F.lit(INPUT_MASK_TAG), F.lit(""))


def is_marked(tok: Column) -> Column:
    return tok.endswith(INPUT_MASK_TAG)


def synth_pos_tag(word: Column) -> Column:
    """Deterministic rule tagger over a marker-stripped token (fixture
    generator; see module docstring). Rule order matters and is replicated
    verbatim in oracle_sql.kg_mentions_pos."""
    w = F.lower(word)
    is_lower = (word == w) & (w != F.upper(word))  # str.islower()
    return (
        F.when(word.rlike("^[0-9]+$"), F.lit("CD"))
        .when(w.isin(*CLOSED_CLASS), F.lit("IN"))
        .when(is_lower & w.isin(*VERB_LEXICON), F.lit("VBD"))
        .when(~w.rlike("[a-z0-9]"), F.lit("SYM"))
        .when(is_lower & w.isin(*ING_NOUNS), F.lit("NN"))
        .when(is_lower & word.rlike("ly$"), F.lit("RB"))
        .when(is_lower & (F.length(word) > 4) & word.rlike("(ed|ing)$"), F.lit("VBG"))
        .when(word.rlike("^[A-Z]"), F.lit("NNP"))
        .otherwise(F.lit("NN"))
    )


def tagged_tokens(sentences: DataFrame) -> DataFrame:
    """sentences(url, sent_idx, sent) -> tagged tokens (url, sent_idx,
    token_idx, word, tag) with marker dispatch (common.py:66-79)."""
    toks = tokens_col(F.col("sent"))
    marker_mode = F.exists(toks, is_marked)
    # struct-carried pre-projection: keeps exists(filter(split(sent)))
    # evaluated once per SENTENCE, not re-run per exploded token row —
    # ExtractGenerator hoists inline aliases above the Generate otherwise
    # (measured 3.4 s vs 0.4 s on an sf0.1 token stage)
    pre = sentences.select(
        "url", "sent_idx",
        F.struct(marker_mode.alias("mm"), toks.alias("tk")).alias("p"),
    )
    df = pre.select(
        "url", "sent_idx",
        F.col("p.mm").alias("marker_mode"),
        F.posexplode("p.tk").alias("token_idx", "raw_word"),
    )
    raw = F.col("raw_word")
    word = strip_marker(raw)
    tag = F.when(
        F.col("marker_mode"),
        F.when(is_marked(raw), F.lit("NNP")).otherwise(F.lit(RESET_POS_TAG)),
    ).otherwise(synth_pos_tag(word))
    return df.select("url", "sent_idx", "token_idx", word.alias("word"), tag.alias("tag"))


def mentions_from_tagged_tokens(
    tokens: DataFrame, noun_tags: tuple[str, ...] = NOUN_TAGS
) -> DataFrame:
    """Externally-tagged tokens -> mentions: maximal runs of noun_tags
    membership (generate_masked_sentences, common.py:15-31). Accepts ANY
    tagger's output; the tag set defaults to the reference's noun_tags."""
    nounish = F.col("tag").isin(*noun_tags)
    return tokens_to_mentions(
        tokens.select("url", "sent_idx", "token_idx", "word", nounish.alias("nounish"))
    )


def tokens_to_mentions(tokens: DataFrame) -> DataFrame:
    """Maximal nounish runs (gaps-and-islands) -> mentions(url, sent_idx,
    mention_idx, begin_tok, end_tok, surface). One shuffle on
    (url, sent_idx) for the run-grouping window."""
    w = Window.partitionBy("url", "sent_idx").orderBy("token_idx")
    is_start = F.col("nounish") & (
        F.lag("nounish", 1, False).over(w) == F.lit(False)
    )
    grp = F.sum(F.when(is_start, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = tokens.withColumn("grp", grp).filter("nounish")
    return (
        runs.groupBy("url", "sent_idx", "grp")
        .agg(
            F.min("token_idx").alias("begin_tok"),
            F.max("token_idx").alias("end_tok"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("token_idx", "word"))
                    ),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("surface"),
        )
        .withColumn("mention_idx", F.col("grp") - 1)
        .drop("grp")
    )
