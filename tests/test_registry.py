"""The driver registries (Spark-free): ``queries()`` and ``oracle_sql()``
are both derived from the ``q_*`` functions of ``__spark_entry__``, so
every declared query is registered and has exactly one DuckDB oracle."""

import inspect

import pytest

import __spark_entry__ as E


def test_every_q_function_is_registered():
    qs = E.queries()
    declared = {n[2:]: f for n, f in inspect.getmembers(E, inspect.isfunction)
                if n.startswith("q_")}
    assert declared
    for name, f in declared.items():
        assert qs[name] is f
    # the one alias is the only key without a q_ function of its own
    assert set(qs) - set(declared) == {"kg_ensemble_mentions"}
    assert qs["kg_ensemble_mentions"] is E.q_kg_ensemble_mentions_prod


def test_every_query_has_one_non_empty_oracle():
    oracles = E.oracle_sql()
    assert set(oracles) == set(E.queries())
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_query_without_oracle_raises(monkeypatch):
    monkeypatch.setattr(E, "q_no_such_oracle", lambda spark, sf_dir: None, raising=False)
    assert "no_such_oracle" in E.queries()
    with pytest.raises(AttributeError, match="no_such_oracle"):
        E.oracle_sql()
