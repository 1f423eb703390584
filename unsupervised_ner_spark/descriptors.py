"""Pluggable masked-LM descriptor providers.

The reference's descriptor stage is an external HTTP service wrapping a
pretrained BERT masked-LM: per masked position it returns the top-k predicted
vocab terms with scores (contract consumed at batched_main_NER.py:380-391 CI
and :425-437 CS; k=10 per DUMMY_DESCS, main_NER.py:19). The real model
weights are external artifacts (setup.sh), so this engine makes the stage
pluggable:

- ``FixtureDescriptorProvider`` — deterministic, term-keyed lookup built
  offline by ``scripts/gen_fixtures.py`` from the vendored bootstrap vocab.
  Used by tests, the parity oracle, and the driver-facing queries. Keying
  rule (shared with the SQL twin): head term = lowercase LAST token of the
  mention surface; integer surfaces take the numeric-dummy shortcut
  (main_NER.py:486-496: 10 x ("two", 0)).
- ``HFBertDescriptorProvider`` — production path: HuggingFace BERT inside the
  tagging stage's ``mapInArrow`` iterator, model loaded once per executor
  (singleton-per-process like BatchedNerServer.py:27-29). Import-gated:
  transformers/torch are not in this container.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from unsupervised_ner_spark.kernel.constants import (
    DUMMY_DESC_TERM,
    TOP_K_DESCS,
)
from unsupervised_ner_spark.kernel.spans import is_integer_token
from unsupervised_ner_spark.respath import resources_root

FIXTURES_DIR = resources_root() / "fixtures"

# OOV mentions (head term outside the fixture vocab) get a fixed common-word
# descriptor list -> types as OTHER under suppression, mirroring how an MLM
# yields generic descriptors for unknown spans. Every word here is verified
# ABSENT from BOTH bootstrap signature vocabularies (a100 + bbc), so each
# descriptor resolves to the UNTAGGED_ENTITY miss signature and suppression
# yields OTHER deterministically (round-1 list contained "with", which the
# a100 vocab maps to DISEASE — OOV spans silently typed as DISEASE).
OOV_DESCS: list[tuple[str, float]] = [
    ("in", 9.0), ("but", 8.0), ("nor", 7.0), ("these", 6.0), ("had", 5.0),
    ("can", 4.0), ("may", 3.0), ("a", 2.0), ("are", 1.0), ("do", 0.5),
]

DUMMY_DESCS: list[tuple[str, float]] = [(DUMMY_DESC_TERM, 0.0)] * TOP_K_DESCS


def head_term(surface: str) -> str:
    """Fixture key: lowercase last token of the span (noun-phrase head)."""
    toks = surface.split()
    return toks[-1].lower() if toks else ""


class FixtureDescriptorProvider:
    """Deterministic descriptor lookup from the generated fixture table.

    ``table``: the ``descriptor_fixture_{model}.parquet`` Arrow table
    (term, ci_descs, cs_descs). Only the term -> row index is Python
    objects; a row's ``[(desc, score), ...]`` list is built when
    ``descriptors`` asks for it, which the kernel does on a typing-memo
    miss only.
    """

    def __init__(self, table: pa.Table):
        self._row = {t: i for i, t in enumerate(table.column("term").to_pylist())}
        self._sides = {
            side: table.column(f"{side}_descs").combine_chunks()
            for side in ("ci", "cs")
        }

    @classmethod
    def load(cls, model: str = "a100") -> "FixtureDescriptorProvider":
        """The committed parquet fixture: the one form of this data that
        the tagging workers, the kernel oracle and the DuckDB twins read.
        ``ParquetFile.read`` skips the dataset layer, whose first use
        imports pandas (~0.3 s in a cold worker)."""
        with pq.ParquetFile(FIXTURES_DIR / f"descriptor_fixture_{model}.parquet") as f:
            return cls(f.read())

    @staticmethod
    def _context_key(context: str | None) -> str:
        """Bare-marker mentions (blank probes, "... :__entity__") have an
        empty surface; the reference's MLM predicts the masked position from
        sentence context (batched_main_NER.py:158-163 flow). Stand-in: key
        on the last word before the mask in the CS masked sentence."""
        if not context:
            return ""
        toks = context.split()
        for i, t in enumerate(toks):
            if t == "__entity__" and i > 0:
                return toks[i - 1].lower()
        return ""

    def _key(self, surface: str, context: str | None) -> str:
        toks = surface.split()
        if toks and all(is_integer_token(t) for t in toks):
            return "\x00num"
        t = head_term(surface) if toks else self._context_key(context)
        return t if t in self._row else "\x00oov"

    def descriptors(
        self, surface: str, side: str, context: str | None = None
    ) -> list[tuple[str, float]]:
        assert side in ("ci", "cs")
        key = self._key(surface, context)
        if key == "\x00num":
            return list(DUMMY_DESCS)
        if key == "\x00oov":
            return list(OOV_DESCS)
        row = self._sides[side][self._row[key]].values
        return list(zip(row.field("desc").to_pylist(), row.field("score").to_pylist()))

    def cache_key(self, surface: str, context: str | None = None) -> str | None:
        """Typing-result memoization key: this provider's descriptors are a
        pure function of the derived key (numeric/OOV collapse to
        sentinels), so per-mention typing results can be cached. Context-
        sensitive providers (real MLM) must return None.

        A bare-marker mention keys only its CS side on the context word; its
        CI probe has no mask and is always OOV. Its key is therefore kept
        apart from a surface-keyed mention whose head is the same word.
        The kernel passes ``context`` (the CS masked sentence) only for such
        an empty-surface mention, so a provider whose key would read the
        context of any other mention must return None."""
        key = self._key(surface, context)
        return key if surface.split() else "\x00ctx" + key


class HFBertDescriptorProvider:
    """HuggingFace masked-LM top-k descriptors (production / GPU path).

    The real analogue of the reference's descriptor service: a pretrained
    BERT (no fine-tuning) scores the masked position, top-k vocab terms with
    logits become the (desc, score) pairs (contract at
    batched_main_NER.py:380-391,557-562). Import-gated — transformers/torch
    are not in this container — but the code below is the complete executor
    body: construct one provider per worker process (the tagging stage's
    ``provider_factory`` hook) and every call batches through the tokenizer.

    Batching note: ``tag_sentences`` drives this per mention; for true GPU
    efficiency override ``descriptors_batch`` from the tagging mapInArrow
    so it groups an Arrow batch's masked sentences into one forward pass
    (the plumbing shape is identical, only the loop body moves).
    """

    def __init__(
        self,
        model_name: str = "bert-base-cased",
        top_k: int = TOP_K_DESCS,
        device: str | None = None,
        torch_mod=None,
        tokenizer=None,
        model=None,
    ):
        """``torch_mod``/``tokenizer``/``model`` are an injection seam: pass
        them to run the IDENTICAL plumbing against a stand-in (the contract
        test uses unsupervised_ner_spark.testing.fake_hf); omitted, the real
        HuggingFace stack is imported and the pretrained weights load."""
        if torch_mod is None or tokenizer is None or model is None:
            try:
                import torch as torch_mod
                from transformers import AutoModelForMaskedLM, AutoTokenizer
            except ImportError as e:
                raise NotImplementedError(
                    "transformers/torch not available in this environment; "
                    "use FixtureDescriptorProvider or inject a stand-in"
                ) from e
            tokenizer = AutoTokenizer.from_pretrained(model_name)
            model = AutoModelForMaskedLM.from_pretrained(model_name)
        self._torch = torch_mod
        self.tokenizer = tokenizer
        self.model = model
        self.device = device or ("cuda" if torch_mod.cuda.is_available() else "cpu")
        self.model.to(self.device).eval()
        self.top_k = top_k

    def cache_key(self, surface: str, context: str | None = None):
        return None  # context-sensitive: typing results must not be memoized

    def descriptors_batch(
        self, masked_sentences: list[str]
    ) -> list[list[tuple[str, float]]]:
        torch = self._torch
        texts = [
            s.replace("__entity__", self.tokenizer.mask_token)
            for s in masked_sentences
        ]
        enc = self.tokenizer(
            texts, return_tensors="pt", padding=True, truncation=True, max_length=128
        ).to(self.device)
        with torch.no_grad():
            logits = self.model(**enc).logits
        mask_id = self.tokenizer.mask_token_id
        out = []
        for i in range(len(texts)):
            pos = (enc["input_ids"][i] == mask_id).nonzero()
            if len(pos) == 0:
                out.append([])
                continue
            row = logits[i, int(pos[0])]
            top = torch.topk(row, self.top_k)
            out.append(
                [
                    (self.tokenizer.convert_ids_to_tokens(int(t)), float(v))
                    for v, t in zip(top.values, top.indices)
                ]
            )
        return out

    def descriptors(
        self, surface: str, side: str, context: str | None = None
    ) -> list[tuple[str, float]]:
        import re

        from unsupervised_ner_spark.kernel.spans import ci_probe

        if side == "ci":
            # CI probe: "<Capitalized span> is a entity" where the trailing
            # template word "entity" IS the masked position — the reference
            # dispatches with DISPATCH_MASK_TAG = "entity" (main_NER.py:15,
            # :502), i.e. BERT sees "<span> is a [MASK]" and the predictions
            # are the span's context-free descriptors.
            probe = context if context else ci_probe(surface)
            sent = re.sub(r" entity$", " __entity__", probe)
        else:
            sent = context if context else surface + " __entity__"
        return self.descriptors_batch([sent])[0]
