"""The query registry's own rules: names come from ``q_<name>`` builders,
a name registers once, and a lazily built oracle is built once."""

from __future__ import annotations

import pytest

from fink_science_spark import registry


def _builder(name: str, module: str):
    def builder(spark, sf_dir):
        raise AssertionError("never run")

    builder.__name__ = builder.__qualname__ = name
    builder.__module__ = module
    return builder


def test_duplicate_name_raises_naming_both_modules(monkeypatch):
    monkeypatch.setattr(registry, "_ENTRIES", {})
    registry.query(oracle=None)(_builder("q_twice", "pkg.first"))
    with pytest.raises(
        ValueError, match="'twice' registered twice: by pkg.first and by pkg.second"
    ):
        registry.query(oracle=None)(_builder("q_twice", "pkg.second"))


def test_duplicate_of_a_shipped_query_raises():
    registry.entries()
    with pytest.raises(ValueError, match="by fink_science_spark.queries and by pkg.x"):
        registry.query(oracle=None)(_builder("q_pricing_summary", "pkg.x"))
    assert registry.entries()["pricing_summary"].builder.__module__ == (
        "fink_science_spark.queries"
    )


def test_builder_must_be_named_q_name(monkeypatch):
    monkeypatch.setattr(registry, "_ENTRIES", {})
    with pytest.raises(ValueError, match="must be named q_<name>"):
        registry.query(oracle=None)(_builder("pricing", "pkg.x"))


def test_scan_table_needs_bench(monkeypatch):
    monkeypatch.setattr(registry, "_ENTRIES", {})
    with pytest.raises(ValueError, match="needs bench=True"):
        registry.query(oracle=None, bench=False, scan_table="events")(
            _builder("q_scan", "pkg.x")
        )


def test_callable_oracle_is_built_once_on_first_use(monkeypatch):
    monkeypatch.setattr(registry, "_ENTRIES", {})
    calls = []

    def build() -> str:
        calls.append(1)
        return "SELECT 1"

    registry.query(oracle=build)(_builder("q_lazy", "pkg.x"))
    entry = registry.entries()["lazy"]
    assert not calls
    assert entry.oracle_sql() == entry.oracle_sql() == "SELECT 1"
    assert len(calls) == 1

