"""Expected outputs computed single-process, and the digests that compare
them with what Spark produced.

The tagger is the engine's own single-process kernel
(``kernel.oracle.OracleTagger``, the parity oracle of the Spark tagging
pass). Everything after it — sentence split, typed-mention flatten,
triples, the MinHash-LSH + connected-components entity resolution and the
canonical-triple join — is re-derived here in plain Python from the
documented semantics, independently of the Spark code paths. The engine's
DuckDB twins of the same chain (``oracle_sql``) give the same tables but
take minutes on a workload's corpus; the ``oracle`` self-test keeps the two
in agreement.

A digest is ``(row count, sum of crc32 over the row's fields joined by
0x1f)``: order-independent, and identical on the Spark side
(``spark_digest``) and here (``py_digest``).
"""

from __future__ import annotations

import hashlib
import re
import zlib
from collections import defaultdict
from itertools import combinations

SEP = "\x1f"
END_TOKENS = frozenset("!,.:;?")

TRIPLE_COLS = ("url", "sent_idx", "subj", "subj_type", "pred", "obj", "obj_type")
TYPED_COLS = (
    "url", "sent_idx", "mention_idx", "begin_tok", "end_tok",
    "surface", "pred_group", "prediction",
)
CANON_COLS = (
    "subj_id", "pred", "obj_id", "url", "sent_idx",
    "subj", "subj_type", "obj", "obj_type",
)
ENTITY_COLS = ("entity_id", "etype", "canonical_surface", "n_mentions")

MODEL = "a100"  # run_pipeline's default model
# fuzzy_edges defaults: 6 hashes, bands of 2, Jaccard >= 0.7
NUM_HASHES, BAND_SIZE, JACCARD = 6, 2, 0.7


def py_digest(rows) -> tuple[int, int]:
    n = s = 0
    for r in rows:
        n += 1
        s += zlib.crc32(SEP.join(str(v) for v in r).encode("utf-8"))
    return n, s


def spark_digest_exprs(cols):
    """Aggregate expressions (count, crc sum) for ``DataFrame.agg`` or
    ``DataFrame.observe``."""
    from pyspark.sql import functions as F

    crc = F.crc32(F.concat_ws(SEP, *[F.col(c).cast("string") for c in cols]))
    return (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(crc), F.lit(0)).cast("long").alias("crc"),
    )


def spark_digest(df, cols) -> tuple[int, int]:
    [row] = df.agg(*spark_digest_exprs(cols)).collect()
    return int(row["n"]), int(row["crc"])


def make_tagger():
    """The single-process kernel configured like the Spark tagging pass
    (its default model)."""
    from unsupervised_ner_spark import dims
    from unsupervised_ner_spark.descriptors import FixtureDescriptorProvider
    from unsupervised_ner_spark.kernel.oracle import OracleTagger

    return OracleTagger(
        FixtureDescriptorProvider.load(MODEL),
        dims.load_entity_map(),
        dims.load_signatures(MODEL),
        suppress_untagged=True,
        punct_terminate=False,
    )


def page_text(page: dict) -> str:
    return page["text"] if page["text"] is not None else _unwrap(page["html"])


def _unwrap(html: bytes) -> str:
    s = html.decode("utf-8")
    body = s[s.index("<p>") + 3:s.rindex("</p>")]
    return body.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")


def sentences(pages, lang: str | None):
    """(url, sent_idx, sent) exactly as the sentence layer emits them:
    split on newlines, trim spaces, drop length <= 1, punct-terminate."""
    for p in pages:
        if lang is not None and p["lang"] != lang:
            continue
        for idx, raw in enumerate(page_text(p).split("\n")):
            s = raw.strip(" ")
            if len(s) <= 1:
                continue
            if s[-1] not in END_TOKENS:
                s += " . "
            yield p["url"], idx, s


def norm_surface(s: str) -> str:
    n = re.sub(r"[^a-z0-9 ]", "", s.lower())
    return re.sub(r"\s+", " ", n).strip(" ")


class Expected:
    """Expected tables of one corpus (lang-filtered as the workload runs)."""

    def __init__(self, pages, lang: str | None, tagger):
        self.tagger = tagger
        self.sents = list(sentences(pages, lang))
        self.results = {}
        for _url, _idx, s in self.sents:
            if s not in self.results:
                self.results[s] = tagger.tag_sentence(s)
        self.typed = []
        self.triples = []
        for url, idx, s in self.sents:
            r = self.results[s]
            for j, m in enumerate(r.mentions):
                self.typed.append((url, idx, j, m.begin_tok, m.end_tok, m.surface,
                                   m.prediction.split("[")[0], m.prediction))
            self.triples.extend(_triples(url, idx, r))
        self._er = None

    # -- entity resolution -------------------------------------------------
    def er(self):
        if self._er is None:
            self._er = _resolve(self.typed)
        return self._er

    def canonical(self):
        membership = self.er()["membership"]
        out = []
        for url, idx, subj, st, pred, obj, ot in self.triples:
            sid = membership.get((norm_surface(subj), st))
            oid = membership.get((norm_surface(obj), ot))
            if sid is not None and oid is not None:
                out.append((sid, pred, oid, url, idx, subj, st, obj, ot))
        return out

    def digests(self) -> dict[str, tuple[int, int]]:
        """Digest of every table a workload can sink."""
        return {
            "triples": py_digest(self.triples),
            "typed_mentions": py_digest(self.typed),
            "canonical_triples": py_digest(self.canonical()),
            "entities": py_digest(self.er()["entities"]),
        }


def _triples(url, idx, r):
    ms = [m for m in r.mentions if m.prediction != "OTHER"]
    for m1, m2 in zip(ms, ms[1:]):
        gap = r.words[m1.end_tok + 1:m1.end_tok + 1 + max(m2.begin_tok - m1.end_tok - 1, 0)]
        pred = " ".join(t.lower() for t in gap if re.search("[a-z0-9]", t.lower()))
        yield (url, idx, m1.surface, m1.prediction.split("[")[0], pred or "related_to",
               m2.surface, m2.prediction.split("[")[0])


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _shingles(norm: str) -> list[str]:
    p = "^" + norm + "$"
    if len(p) < 3:
        return [p]
    return list(dict.fromkeys(p[i:i + 3] for i in range(len(p) - 2)))


def _resolve(typed):
    nodes: dict = {}
    for _u, _i, _j, _b, _e, surface, etype, _p in typed:
        norm = norm_surface(surface)
        if etype == "OTHER" or not norm:
            continue
        n = nodes.setdefault((norm, etype), [0, surface])
        n[0] += 1
        n[1] = min(n[1], surface)
    ids = {k: _md5(f"{k[0]}|{k[1]}") for k in nodes}
    # fuzzy_edges' default bucket cap policy, sized from the node count
    from unsupervised_ner_spark.ops.dedup import adaptive_max_bucket

    max_bucket = adaptive_max_bucket(len(nodes), lo=100)
    shs, buckets = {}, defaultdict(list)
    for (norm, etype), nid in ids.items():
        sh = _shingles(norm)
        shs[nid] = set(sh)
        mh = [min(_md5(f"{i}:{s}") for s in sh) for i in range(NUM_HASHES)]
        for b in range(NUM_HASHES // BAND_SIZE):
            key = "|".join(mh[b * BAND_SIZE:(b + 1) * BAND_SIZE])
            buckets[(etype, b, _md5(key))].append(nid)
    parent = {nid: nid for nid in ids.values()}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = set()
    for members in buckets.values():
        if len(members) > max_bucket:
            continue
        for a, b in combinations(sorted(members), 2):
            if (a, b) in edges:
                continue
            inter = len(shs[a] & shs[b])
            if inter >= len(shs[a] | shs[b]) * JACCARD:
                edges.add((a, b))
                ra, rb = find(a), find(b)
                if ra != rb:  # keep the smaller id as the root: the label
                    parent[max(ra, rb)] = min(ra, rb)
    membership = {k: find(nid) for k, nid in ids.items()}
    groups = defaultdict(list)
    for k, comp in membership.items():
        groups[(comp, k[1])].append(nodes[k])
    entities = [
        (comp, etype, min(g, key=lambda n: (-n[0], n[1]))[1], sum(n[0] for n in g))
        for (comp, etype), g in groups.items()
    ]
    return {
        "membership": membership,
        "entities": entities,
        "n_nodes": len(nodes),
        "n_edges": len(edges),
    }


def sample_tags(expected: Expected, rows) -> int:
    """Mismatches between Spark-tagged rows (sent, words, tags, mentions)
    and the kernel's result for the same sentence."""
    bad = 0
    for r in rows:
        ref = expected.tagger.tag_sentence(r["sent"])
        got_m = [(m["begin_tok"], m["end_tok"], m["surface"], m["prediction"])
                 for m in r["mentions"]]
        ref_m = [(m.begin_tok, m.end_tok, m.surface, m.prediction) for m in ref.mentions]
        if list(r["words"]) != ref.words or list(r["tags"]) != ref.tags or got_m != ref_m:
            bad += 1
    return bad
