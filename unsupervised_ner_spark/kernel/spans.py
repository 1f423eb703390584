"""Span algebra: tokenize -> POS-lite tag -> mention runs -> masks/probes.

Re-expresses (from scratch) the observable span semantics of the reference:

- marker path:   ``set_POS_based_on_entities``  ensemble/utils/common.py:66-79
- span runs:     ``generate_masked_sentences``  ensemble/utils/common.py:15-31
- CS mask:       ``gen_sentence``               ensemble/utils/common.py:34-54
- CI probe:      ``gen_single_phrase_sentences`` batched_main_NER.py:338-373
- capitalize:    ``masked_word_first_letter_capitalize`` batched_main_NER.py:327-335
- common filter: ``filter_common_noun_spans``   ensemble/utils/common.py:82-113

The reference outsources POS tagging to an external jPTDP HTTP service
(config.json:1). This engine replaces it with a deterministic heuristic
"POS-lite" tagger whose *noun-ness* rule is simple enough to be expressed
identically in ANSI SQL (for oracle checks): see ``is_nounish`` below.
Only noun-vs-not matters downstream — maximal runs of noun-ish tokens
become mentions, exactly like runs of NOUN_TAGS in the reference.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from unsupervised_ner_spark.kernel.constants import (
    CI_TEMPLATE,
    INPUT_MASK_TAG,
    MASK_TAG,
)

# ---------------------------------------------------------------------------
# POS-lite: deterministic noun-ness heuristic (SQL-expressible; the DuckDB
# oracles in oracle_sql.py replay it to gate kg_mentions and the typed chain).
#
#   nounish(w) :=      w is not an English function word (FUNCTION_WORDS)
#                 AND  w contains at least one alphanumeric char
#                 AND NOT (w is all-lowercase AND endswith 'ly')
#                 AND NOT (w is all-lowercase AND (endswith 'ed' OR 'ing'))
#
# Numbers count as nounish (the reference includes CD in noun_tags,
# ensemble/utils/common.py:11, and has a numeric-mention shortcut,
# main_NER.py:486-496).
# ---------------------------------------------------------------------------

FUNCTION_WORDS = frozenset(
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
    felt said says say take takes took make makes made get gets got
    went goes go come comes came give gives gave
    win wins won lose loses lost indicate indicates treat treats
    suffer suffers cause causes beat beats
    """.split()
)

_ALNUM_RE = re.compile(r"[A-Za-z0-9]")
_INT_RE = re.compile(r"^[0-9]+$")


def is_nounish(word: str) -> bool:
    """POS-lite noun test over a raw (marker-stripped) token."""
    w = word.lower()
    if w in FUNCTION_WORDS:
        return False
    if not _ALNUM_RE.search(w):
        return False
    if word.islower():
        if w.endswith("ly"):
            return False
        if (w.endswith("ed") or w.endswith("ing")) and len(w) > 4:
            return False
    return True


def is_integer_token(word: str) -> bool:
    """Numeric-span shortcut predicate (main_NER.py:486-496)."""
    return bool(_INT_RE.match(word))


@dataclass(frozen=True)
class Token:
    word: str      # marker-stripped surface
    nounish: bool  # 1 bit of POS that matters downstream


@dataclass(frozen=True)
class Mention:
    begin_tok: int      # inclusive, 0-based
    end_tok: int        # inclusive
    surface: str        # space-joined marker-stripped words


def tokenize(sentence: str) -> list[str]:
    """Whitespace tokenization — the reference splits on whitespace throughout
    (e.g. ensemble/utils/common.py:68)."""
    return sentence.split()


def parse_tokens(sentence: str) -> list[Token]:
    """Marker path when any ``:__entity__`` marker is present (the reference
    dispatches on SPECIFIC_TAG presence, batched_main_NER.py:24); else the
    POS-lite path. Marker semantics per ensemble/utils/common.py:66-79:
    marked tokens are nounish, all others are not (RESET)."""
    words = tokenize(sentence)
    if any(w.endswith(INPUT_MASK_TAG) for w in words):
        # NB: the reference strips via str.replace, i.e. ALL occurrences of
        # the marker anywhere in the token (common.py:74), not just the suffix
        return [
            Token(w.replace(INPUT_MASK_TAG, ""), True)
            if w.endswith(INPUT_MASK_TAG)
            else Token(w, False)
            for w in words
        ]
    return [Token(w, is_nounish(w)) for w in words]


def span_bitmap(tokens: list[Token]) -> list[int]:
    """0/1 per token; maximal runs of 1 are one mention each
    (ensemble/utils/common.py:15-31)."""
    return [1 if t.nounish else 0 for t in tokens]


def detect_mentions(tokens: list[Token]) -> list[Mention]:
    """Maximal nounish runs -> mentions (gaps-and-islands)."""
    mentions: list[Mention] = []
    i, n = 0, len(tokens)
    while i < n:
        if tokens[i].nounish:
            j = i
            while j < n and tokens[j].nounish:
                j += 1
            mentions.append(
                Mention(i, j - 1, " ".join(t.word for t in tokens[i:j]))
            )
            i = j
        else:
            i += 1
    return mentions


def masked_sentence(tokens: list[Token], m: Mention) -> str:
    """CS masked copy: span replaced by one ``__entity__`` token
    (ensemble/utils/common.py:34-54)."""
    words = [t.word for t in tokens]
    return " ".join(words[: m.begin_tok] + [MASK_TAG] + words[m.end_tok + 1 :])


def capitalize_span(surface: str) -> str:
    """First-letter capitalization of each span word when the first TWO
    letters are lowercase (batched_main_NER.py:327-335)."""
    out = []
    for term in surface.split():
        if len(term) > 1 and term[0].islower() and term[1].islower():
            out.append(term[0].upper() + term[1:])
        else:
            out.append(term)
    return " ".join(out)


def ci_probe(surface: str) -> str:
    """Context-independent probe: ``"<Capitalized span> is a entity"``
    (batched_main_NER.py:338-373)."""
    return CI_TEMPLATE % capitalize_span(surface)


def filter_common_spans(
    tokens: list[Token], mentions: list[Mention], common_descs: frozenset[str]
) -> list[Mention]:
    """Drop a mention iff every span token (lowercased) is in the common set
    (ensemble/utils/common.py:82-113)."""
    if not common_descs:
        return mentions
    kept = []
    for m in mentions:
        words = [tokens[i].word.lower() for i in range(m.begin_tok, m.end_tok + 1)]
        if not all(w in common_descs for w in words):
            kept.append(m)
    return kept


def is_blank_probe(sentence: str) -> bool:
    """Sentences of the form ``"... :__entity__"`` (a bare trailing marker)
    skip CI pooling (batched_main_NER.py:158-163 checks
    ``endswith(" :__entity__\\n")``; our sentences carry no trailing
    newline, so the check is on the stripped text)."""
    return sentence.rstrip("\n").endswith(" " + INPUT_MASK_TAG)
