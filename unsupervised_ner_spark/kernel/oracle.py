"""Single-process end-to-end parity oracle (v2 batched semantics).

Runs one sentence through the full reference dataflow — span detection, CS
mask + CI probe, descriptor fetch, signature join, typing aggregation, CI+CS
pooling, top-1 selection, BIO emission — entirely in Python. This is the
golden oracle the distributed Spark pipeline must match token-for-token
(query lifecycle traced in SURVEY.md §3.1; reference entrypoint
``tag_sentence`` batched_main_NER.py:258-325).
"""

from __future__ import annotations

from dataclasses import dataclass

from unsupervised_ner_spark.kernel import spans as S
from unsupervised_ner_spark.kernel import typing as T
from unsupervised_ner_spark.kernel.bio import emit_bio
from unsupervised_ner_spark.kernel.constants import END_TOKENS, UNTAGGED_LABEL


def add_term_punct(sent: str) -> str:
    """End sentences with ' . ' when not already punctuated
    (add_term_punct, ensemble/aggregate_server_json.py:39-46)."""
    if len(sent) > 1 and sent[-1] not in END_TOKENS:
        return sent + " . "
    return sent


@dataclass
class MentionResult:
    begin_tok: int
    end_tok: int
    surface: str
    pooled: list
    prediction: str
    # packed per-side distributions (pack_confidences,
    # batched_main_NER.py:396-413) — the orig_cs/orig_ci_prediction_details
    # payloads the ensemble consumes
    cs_dist: list
    ci_dist: list
    # raw descriptor term lists (cs/ci_prediction_details "descs" payload)
    cs_descs: list
    ci_descs: list


@dataclass
class SentenceResult:
    text: str
    words: list[str]
    span_arr: list[int]
    mentions: list[MentionResult]
    tags: list[str]


class OracleTagger:
    def __init__(
        self,
        provider,
        entity_map: dict[str, str],
        signatures: dict[str, tuple[tuple[str, ...], tuple[int, ...]]],
        suppress_untagged: bool = True,
        punct_terminate: bool = True,
    ):
        """Typing uses the batched (v2, softmax-weighted) semantics of
        kernel/typing.py:aggregate_entities."""
        self.provider = provider
        self.entity_map = entity_map
        self.signatures = signatures
        self.suppress_untagged = suppress_untagged
        self.punct_terminate = punct_terminate
        # typing-result memo: valid only when the provider declares its
        # descriptors a pure function of the surface (cache_key != None).
        # Zipfian surface distributions make this the tagging hot-path win.
        self._memo: dict = {}

    def _signature(self, desc: str):
        """J1 descriptor-term -> signature; misses are UNTAGGED with count 1
        (contract at batched_main_NER.py:704-709)."""
        sig = self.signatures.get(desc.lower())
        if sig is None:
            return ([UNTAGGED_LABEL], [1])
        return (list(sig[0]), list(sig[1]))

    def _type_side(self, descs):
        sigs = [self._signature(d) for d, _ in descs]
        return T.aggregate_entities(descs, sigs, self.entity_map, self.suppress_untagged)

    def _type_mention(self, surface: str, masked: str, blank: bool) -> tuple:
        """Descriptor fetch, typing and pooling of one mention: the
        MentionResult fields after its span, in order."""
        ci_descs = self.provider.descriptors(surface, "ci", context=S.ci_probe(surface))
        cs_descs = self.provider.descriptors(surface, "cs", context=masked)
        ci_entities, ci_confidences, ci_subtypes = self._type_side(ci_descs)
        if cs_descs:
            cs_entities, cs_confidences, cs_subtypes = self._type_side(cs_descs)
        else:  # find_cs_entities empty-descs branch (batched_main_NER.py:436-441)
            cs_entities, cs_confidences, cs_subtypes = [], [], {}
        pooled = T.pool_confidences(
            ci_entities, ci_confidences, ci_subtypes,
            cs_entities, cs_confidences, cs_subtypes,
            blank_probe=blank,
        )
        return (
            pooled,
            T.top_prediction(pooled),
            T.pack_confidences(cs_entities, cs_confidences),
            T.pack_confidences(ci_entities, ci_confidences),
            [d for d, _ in cs_descs],
            [d for d, _ in ci_descs],
        )

    def tag_sentence(self, text: str) -> SentenceResult:
        sent = add_term_punct(text) if self.punct_terminate else text
        tokens = S.parse_tokens(sent)
        words = [t.word for t in tokens]
        mentions = S.detect_mentions(tokens)
        span_arr = [0] * len(tokens)
        for m in mentions:
            for i in range(m.begin_tok, m.end_tok + 1):
                span_arr[i] = 1
        blank = S.is_blank_probe(sent)
        results: list[MentionResult] = []
        cache_key_fn = getattr(self.provider, "cache_key", lambda s, context=None: None)
        for m in mentions:
            # the CS mask is built up front only for a bare marker (empty
            # surface), the one mention whose cache key reads its context
            masked = None if m.surface.split() else S.masked_sentence(tokens, m)
            ck = cache_key_fn(m.surface, context=masked)
            memo_key = (ck, blank) if ck is not None else None
            typed = self._memo.get(memo_key) if memo_key is not None else None
            if typed is None:
                if masked is None:
                    masked = S.masked_sentence(tokens, m)
                typed = self._type_mention(m.surface, masked, blank)
                if memo_key is not None:
                    self._memo[memo_key] = typed
            results.append(MentionResult(m.begin_tok, m.end_tok, m.surface, *typed))
        tags = emit_bio(span_arr, [r.prediction for r in results])
        return SentenceResult(sent, words, span_arr, results, tags)
