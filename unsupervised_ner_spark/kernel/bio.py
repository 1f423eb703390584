"""BIO tag emission (emit_sentence_entities, batched_main_NER.py:520-551).

Given the token list, the span bitmap and the per-mention predictions (in
mention order), emit per-token CoNLL-style tags: first token of a span gets
``B_<pred>``, the rest ``I_<pred>``, non-span tokens ``O``.
"""

from __future__ import annotations


def emit_bio(span_arr: list[int], predictions: list[str]) -> list[str]:
    tags: list[str] = []
    entity_index = 0
    in_span = False
    for bit in span_arr:
        if bit == 0:
            tags.append("O")
            if in_span:
                in_span = False
                entity_index += 1
        else:
            if in_span:
                tags.append("I_" + predictions[entity_index])
            else:
                in_span = True
                tags.append("B_" + predictions[entity_index])
    return tags
