"""Seeded page corpora owned by the benchmark.

Both generators are pure functions of ``seed`` (and a page count) built on
``random.Random``; they read only the committed benchmark term lists, never
the engine's own synthetic generator, so a change to the engine cannot move
a workload's input.

- ``low_diversity_pages``: ``synth_pages`` semantics — sentences drawn from a
  small pool (canned news/biomedical sentences plus templated chemical /
  disease sentences), 2-12 per page, half the pages html-only and half
  text-only, 5/8 of them ``en``. Entity resolution gets little to do.
- ``entity_dense_pages``: every sentence carries two ``<Modifier> <head>``
  mentions. Heads come from the chemical / disease term lists so they type
  as non-OTHER; modifiers come in near-duplicate families (one-char edits)
  that feed the LSH verify; a Zipf draw over the entity pool makes hot
  entities for the salted joins. Distinct (surface, type) nodes, not the
  page count, drive entity-resolution cost.
"""

from __future__ import annotations

import bisect
import hashlib
import re
from pathlib import Path
import random

PAGE_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
TERMS_DIR = Path("unsupervised_ner_spark") / "resources" / "benchmark"
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "en")
SENT_SEP = "\n"
ZIPF_S = 0.8  # entity-draw skew of the entity-dense corpus

BASE_SENTENCES = (
    "Mesothelioma is caused by exposure to asbestos",
    "Imatinib mesylate is a drug and is used to treat nsclc",
    "A eGFR below 60 indicates chronic kidney disease",
    "In humans mutations in Foxp2 leads to verbal dyspraxia",
    "Elon Musk said Telsa will open a manufacturing plant in Europe",
    "John Doe flew from New York to Rio De Janiro via Miami",
    "Lionel Ritchie was popular in the 1980s",
    "Everyday he rode his bicycle from Rajakilpakkam to Tambaram",
    "Fyodor Mikhailovich Dostoevsky was treated for Parkinsons",
    "The recent spread of Corona virus flu from China to Italy has caused global concern",
    "Her hypophysitis secondary to ipilimumab was well managed with supplemental hormones",
    "Paul Erdos died at 83",
    "Hotel California topped the singles chart",
    "engineer",
    "Austin called",
    "Mesothelioma:__entity__ is caused by exposure to asbestos:__entity__",
    "Lou:__entity__ Gehrig:__entity__ who works in XCorp:__entity__ suffers from Parkinsons:__entity__",
    "X,Y,Z are medicines",
)

POOL_TEMPLATES = (
    "Patients treated with {chem} developed {disease}",
    "Exposure to {chem} is a known cause of {disease}",
    "{disease} was managed with {chem} therapy",
    "A clinical trial of {chem} for {disease} enrolled 120 patients",
    "{chem} reduced the incidence of {disease} in mice",
)

# two-mention templates for the entity-dense corpus: every slot word around
# the mentions is a function word, a lowercase -ed/-ing/-ly word or a
# capitalised lead noun, so each {a}/{b} stays a mention of its own
ENTITY_TEMPLATES = (
    "Patients treated with {a} developed {b}",
    "Exposure to {a} is a known cause of {b}",
    "{a} was managed with {b}",
    "{a} reduced the incidence of {b} in mice",
    "Doctors combined {a} with {b}",
)

_SYLLABLES = tuple(c + v for c in "bdfgklmnprstvz" for v in "aeiou")
_HEAD_RE = re.compile(r"[a-z]{5,}")


def load_terms(root: Path, fname: str) -> list[str]:
    """Single-word lowercase terms of one committed benchmark list, sorted."""
    out = set()
    for line in (root / TERMS_DIR / fname).read_text().splitlines():
        parts = line.split()
        if len(parts) == 2 and _HEAD_RE.fullmatch(parts[0]):
            if not parts[0].endswith(("ly", "ed", "ing")):
                out.add(parts[0])
    return sorted(out)


def _wrap_html(url: str, text: str) -> bytes:
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return (
        f"<html><head><title>{url}</title></head><body><p>{esc}</p></body></html>"
    ).encode("utf-8")


def _page(seed: int, pid: int, text: str, lang: str) -> dict:
    url = f"https://bench.test/{seed}/p/{pid}"
    html_side = pid % 2 == 0
    return {
        "url": url,
        "warc_ts": 1_600_000_000 + pid,
        "html": _wrap_html(url, text) if html_side else None,
        "text": None if html_side else text,
        "lang": lang,
    }


def low_diversity_pages(root: Path, seed: int, n_pages: int) -> list[dict]:
    rng = random.Random(f"low:{seed}")
    chems = rng.sample(load_terms(root, "BC5CDR_chemical.txt"), 100)
    diseases = rng.sample(load_terms(root, "BC5CDR_disease.txt"), 100)
    pool = list(BASE_SENTENCES) + [
        POOL_TEMPLATES[i % len(POOL_TEMPLATES)].format(chem=c, disease=d)
        for i, (c, d) in enumerate(zip(chems, diseases))
    ]
    pages = []
    for pid in range(n_pages):
        sents = [rng.choice(pool) for _ in range(rng.randint(2, 12))]
        pages.append(_page(seed, pid, SENT_SEP.join(sents), rng.choice(LANGS)))
    return pages


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(3, 4))).capitalize()


def _one_char_edit(rng: random.Random, w: str) -> str:
    i = rng.randrange(1, len(w))
    op = rng.randrange(3)
    c = rng.choice("aeioukrst")
    if op == 0:
        return w[:i] + c + w[i + 1:]
    if op == 1:
        return w[:i] + c + w[i:]
    return w[:i] + w[i + 1:]


def entity_pool(root: Path, seed: int, n_families: int) -> list[str]:
    """Entity surfaces ``<Modifier> <head>``; a family is one base modifier
    plus 0-3 one-char-edit variants, all on the same head."""
    rng = random.Random(f"ent:{seed}")
    heads = load_terms(root, "BC5CDR_chemical.txt") + load_terms(root, "BC5CDR_disease.txt")
    pool = []
    for _ in range(n_families):
        base, head = _word(rng), rng.choice(heads)
        mods = {base}
        for _ in range(rng.choice((0, 1, 1, 2, 3))):
            mods.add(_one_char_edit(rng, base))
        pool.extend(f"{m} {head}" for m in sorted(mods))
    rng.shuffle(pool)
    return pool


def entity_dense_pages(root: Path, seed: int, n_pages: int, n_families: int) -> list[dict]:
    rng = random.Random(f"dense:{seed}")
    pool = entity_pool(root, seed, n_families)
    acc, cum = 0.0, []
    for r in range(1, len(pool) + 1):
        acc += 1.0 / r**ZIPF_S
        cum.append(acc)

    def draw() -> str:
        return pool[min(bisect.bisect(cum, rng.random() * acc), len(pool) - 1)]

    pages = []
    for pid in range(n_pages):
        sents = [
            rng.choice(ENTITY_TEMPLATES).format(a=draw(), b=draw())
            for _ in range(rng.randint(3, 8))
        ]
        pages.append(_page(seed, pid, SENT_SEP.join(sents), "en"))
    return pages


def pages_digest(pages: list[dict]) -> str:
    """Content checksum of a generated corpus (independent of file layout)."""
    h = hashlib.sha256()
    for p in pages:
        for c in PAGE_COLUMNS:
            v = p[c]
            h.update(v if isinstance(v, bytes) else repr(v).encode("utf-8"))
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()


def staged_digest(in_dir: Path) -> str:
    """``pages_digest`` of a staged corpus, read back from its files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages = []
    for f in sorted(in_dir.glob("*.parquet")):
        t = pq.read_table(f)
        ts = t.column("warc_ts").cast(pa.timestamp("s", tz="UTC")).cast("int64").to_pylist()
        rows = t.drop(["warc_ts"]).to_pylist()
        pages.extend({**r, "warc_ts": v} for r, v in zip(rows, ts))
    return pages_digest(pages)


def stage_pages(pages: list[dict], out_dir: Path, n_files: int) -> None:
    """Write the corpus as ``n_files`` parquet files under ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("s", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    out_dir.mkdir(parents=True, exist_ok=True)
    step = -(-len(pages) // n_files)
    for i in range(n_files):
        chunk = pages[i * step:(i + 1) * step]
        cols = {c: [p[c] for p in chunk] for c in PAGE_COLUMNS}
        pq.write_table(pa.table(cols, schema=schema), out_dir / f"part-{i:03d}.parquet")
