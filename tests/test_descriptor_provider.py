"""The fixture descriptor provider keeps the parquet fixture columnar.

A tagging worker holds one provider per model for its lifetime, so what
``FixtureDescriptorProvider.load`` retains is paid once per worker and
model. Spark-free.
"""

from __future__ import annotations

import gc
import tracemalloc

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from unsupervised_ner_spark.descriptors import (
    DUMMY_DESCS,
    FIXTURES_DIR,
    OOV_DESCS,
    FixtureDescriptorProvider,
)
from unsupervised_ner_spark.kernel.spans import is_integer_token

RETAINED_LIMIT = 24 * 10**6  # bytes; a Python dict of every row is ~47 MB


def test_fixture_provider_retains_little():
    FixtureDescriptorProvider.load("bbc")  # the reader's lazy imports
    gc.collect()
    arrow_before = pa.total_allocated_bytes()
    tracemalloc.start()
    try:
        provider = FixtureDescriptorProvider.load("a100")
        gc.collect()
        python_bytes, _ = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    retained = python_bytes + pa.total_allocated_bytes() - arrow_before
    assert provider.descriptors("mesothelioma", "ci")
    assert retained < RETAINED_LIMIT, f"{retained / 1e6:.1f} MB retained"


@pytest.mark.parametrize("model", ["a100", "bbc"])
def test_fixture_provider_returns_parquet_rows(model):
    provider = FixtureDescriptorProvider.load(model)
    rows = pq.read_table(FIXTURES_DIR / f"descriptor_fixture_{model}.parquet").to_pylist()
    numeric = [r["term"] for r in rows if is_integer_token(r["term"])]
    for r in rows:
        for side in ("ci", "cs"):
            want = (
                DUMMY_DESCS if r["term"] in numeric
                else [(d["desc"], d["score"]) for d in r[f"{side}_descs"]]
            )
            assert provider.descriptors(r["term"], side) == want, (r["term"], side)
    for side in ("ci", "cs"):
        assert provider.descriptors("60", side) == DUMMY_DESCS
        assert provider.descriptors("qqzzyx", side) == OOV_DESCS
        assert provider.descriptors("", side, context="__entity__ starts") == OOV_DESCS
