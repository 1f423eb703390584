"""Gated queries against their oracle_sql() twins in DuckDB at sf0.001 —
the comparison scripts/check_correctness.py makes, kept in the suite: the
typed-mention queries that run the production tagging pass
(kg_typed_mentions, kg_ensemble_mentions, er_entity_linking) and the
round-6 rewrites (dedup_ppjoin, kg_louvain_move, kg_communities,
er_chain_audit, mm_phash_pairs)."""

import sys
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as E
from test_ops import SF
from unsupervised_ner_spark.caching import cache_scope

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "scripts"))
from check_correctness import (  # noqa: E402
    DUCKDB_MEMORY_LIMIT,
    DUCKDB_TEMP_DIR,
    TABLES,
    normalize,
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect(config={
        "memory_limit": DUCKDB_MEMORY_LIMIT,
        "temp_directory": str(DUCKDB_TEMP_DIR),
    })
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield c
    c.close()


@pytest.mark.parametrize(
    "name",
    [
        "kg_typed_mentions", "kg_ensemble_mentions", "er_entity_linking",
        "dedup_ppjoin", "kg_louvain_move", "kg_communities", "er_chain_audit",
        "mm_phash_pairs",
    ],
)
def test_query_matches_duckdb_oracle(spark, con, name):
    with cache_scope():
        got = normalize(E.queries()[name](spark, SF).toPandas())
    want = normalize(con.sql(E.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    assert got.equals(want)
