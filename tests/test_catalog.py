"""Catalog loading: every operator module must import — a broken or
missing module fails load_catalog() instead of silently shrinking the
query surface."""

from __future__ import annotations

import pytest

from pymfe_spark.plans import catalog


def test_load_catalog_raises_on_missing_module(monkeypatch):
    monkeypatch.setattr(
        catalog,
        "_OPERATOR_MODULES",
        (*catalog._OPERATOR_MODULES, "pymfe_spark.operators.no_such_module"),
    )
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        catalog.load_catalog()
