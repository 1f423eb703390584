"""Generate deterministic fixture tables into resources/fixtures/.

Outputs (all parquet, committed to the repo so every engine — Spark, DuckDB,
the Python oracle — replays byte-identical inputs):

- descriptor_fixture_{a100,bbc}.parquet
    term, ci_descs array<struct<desc,score>>, cs_descs array<struct<desc,score>>
  Frozen masked-LM outputs keyed by mention head term (FIXTURES.md §5): the
  descriptors for term t are drawn from vocab terms sharing t's primary
  label (simulating that a masked-LM predicts semantically-related terms)
  plus common-word noise, with deterministically decaying scores.

- entity_signatures_{a100,bbc}.parquet
    term, labels array<string>, counts array<int>

- entity_map.parquet : subtype, grp

Determinism: zlib.crc32 only (stable across platforms/runs); no RNG state.
Run: python scripts/gen_fixtures.py
"""

from __future__ import annotations

import sys
import zlib
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from unsupervised_ner_spark import dims
from unsupervised_ner_spark.kernel.constants import TOP_K_DESCS, UNTAGGED_LABEL

OUT = Path(__file__).resolve().parents[1] / "unsupervised_ner_spark" / "resources" / "fixtures"

DESC_STRUCT = pa.struct([("desc", pa.string()), ("score", pa.float64())])


def h(s: str) -> int:
    return zlib.crc32(s.encode())


def build_descriptor_fixture(model: str) -> pa.Table:
    sigs = dims.load_signatures(model)
    # label -> sorted list of member terms
    by_label: dict[str, list[str]] = {}
    for term, (labels, _counts) in sigs.items():
        for label in labels:
            by_label.setdefault(label, []).append(term)
    for label in by_label:
        by_label[label].sort()
    common_pool = sorted(by_label.get(UNTAGGED_LABEL, ["the", "of", "and"]))

    terms, ci_col, cs_col = [], [], []
    for term in sorted(sigs):
        labels, _ = sigs[term]
        primary = labels[0]
        pool = by_label[primary]
        rows = {}
        for side in ("ci", "cs"):
            descs, seen = [], set()
            k = 0
            # 7 related terms from the primary-label pool, 3 common-noise
            while len(descs) < 7 and k < 50:
                cand = pool[h(f"{term}|{side}|rel{k}") % len(pool)]
                k += 1
                if cand in seen:
                    continue
                seen.add(cand)
                score = round(12.0 - len(descs) + (h(f"{term}|{side}|s{len(descs)}") % 100) / 100.0, 4)
                descs.append({"desc": cand, "score": score})
            k = 0
            while len(descs) < TOP_K_DESCS and k < 50:
                cand = common_pool[h(f"{term}|{side}|com{k}") % len(common_pool)]
                k += 1
                if cand in seen:
                    continue
                seen.add(cand)
                score = round(3.0 - 0.2 * len(descs) + (h(f"{term}|{side}|t{len(descs)}") % 100) / 100.0, 4)
                descs.append({"desc": cand, "score": score})
            rows[side] = descs
        terms.append(term)
        ci_col.append(rows["ci"])
        cs_col.append(rows["cs"])
    return pa.table(
        {
            "term": pa.array(terms, pa.string()),
            "ci_descs": pa.array(ci_col, pa.list_(DESC_STRUCT)),
            "cs_descs": pa.array(cs_col, pa.list_(DESC_STRUCT)),
        }
    )


def build_signature_table(model: str) -> pa.Table:
    rows = dims.signatures_rows(model)
    return pa.table(
        {
            "term": pa.array([r[0] for r in rows], pa.string()),
            "labels": pa.array([r[1] for r in rows], pa.list_(pa.string())),
            "counts": pa.array([r[2] for r in rows], pa.list_(pa.int32())),
        }
    )


def build_entity_map() -> pa.Table:
    rows = dims.entity_map_rows()
    return pa.table(
        {
            "subtype": pa.array([r[0] for r in rows], pa.string()),
            "grp": pa.array([r[1] for r in rows], pa.string()),
        }
    )


def main() -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    for model in ("a100", "bbc"):
        pq.write_table(build_descriptor_fixture(model), OUT / f"descriptor_fixture_{model}.parquet")
        pq.write_table(build_signature_table(model), OUT / f"entity_signatures_{model}.parquet")
        print(f"wrote fixtures for {model}")
    pq.write_table(build_entity_map(), OUT / "entity_map.parquet")
    print("wrote entity_map")


if __name__ == "__main__":
    main()
