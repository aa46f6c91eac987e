"""Locks on the query registry and the ``__spark_entry__`` contract
that exposes it, plus ``scripts/oracle_check.py`` run in-process."""

import importlib.util
import os

from bigdatafinalproject_hockey_spark.queries import ORACLE_SQL, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_oracle_name_is_registered():
    assert set(ORACLE_SQL) <= set(QUERIES)


def test_registry_covers_whole_surface():
    """Registry size + oracle coverage lock (new queries must come
    with oracles unless deliberately rows-only)."""
    rows_only = set(QUERIES) - set(ORACLE_SQL)
    assert rows_only == {
        "dedup_minhash_lsh", "split_random", "ml_train_eval",
        "ml_train_eval_rf", "ml_train_eval_gbt", "ml_train_eval_mlp",
        "text_quality_classifier_fast",
    }, rows_only


def test_spark_entry_exposes_the_registry(spark, sf_dir):
    """``__spark_entry__`` adapts the registry without changing it:
    the same query names, the same oracle SQL, and a smoke ``entry``
    that returns rows on the sf0.001 data."""
    import __spark_entry__ as entry_mod

    assert set(entry_mod.queries()) == set(QUERIES)
    assert entry_mod.oracle_sql() == ORACLE_SQL
    assert entry_mod.SMOKE_SF_DIR == sf_dir
    assert len(entry_mod.entry(spark).collect()) >= 1


def test_oracle_check_passes_and_fails(spark, monkeypatch):
    """One oracle-backed and one rows-only query pass; a wrong oracle
    makes the script exit 1."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(REPO, "scripts", "oracle_check.py")
    )
    oracle_check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle_check)
    assert oracle_check.main(["join_equi_3key", "split_random"]) == 0
    monkeypatch.setitem(ORACLE_SQL, "join_equi_3key", "SELECT 1 AS x")
    assert oracle_check.main(["join_equi_3key"]) == 1
