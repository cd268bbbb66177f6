from __future__ import annotations

import importlib.util
import os

from tests.conftest import REPO_ROOT


def _load_entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO_ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark):
    mod = _load_entry_module()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "total_spent" in df.columns


def test_queries_and_oracles_consistent(spark):
    mod = _load_entry_module()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) > 0
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_each_query_runs_smoke(registry_pass):
    # every driver-contract query builds, its schema resolves and its
    # plan executes (the registry is built once, see conftest)
    assert set(_load_entry_module().queries()) == set(registry_pass)
    failed = {
        name: build_error or run_error
        for name, (build_error, run_error, _) in registry_pass.items()
        if build_error or run_error
    }
    assert not failed, failed
