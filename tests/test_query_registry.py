"""The query registry behind the driver contract (``queries/__init__.py``).

``all_queries()`` / ``all_oracles()`` merge every sub-module's
``QUERIES`` / ``ORACLES`` in ``_MODULES`` order and drop ``RETIRED``;
callable oracles are built on first use and cached.  None of this needs
a Spark session.
"""

import types

import pytest

from reflinkcep_spark import queries as registry


def _registered(attr):
    return [
        name
        for mod in registry._MODULES
        for name in getattr(mod, attr)
        if name not in registry.RETIRED
    ]


def test_all_queries_is_module_order_without_retired():
    assert list(registry.all_queries()) == _registered("QUERIES")


def test_all_queries_drops_every_retired_name():
    qs = registry.all_queries()
    assert registry.RETIRED
    assert not set(registry.RETIRED) & set(qs)
    assert len(set(registry.RETIRED)) == len(registry.RETIRED)


def test_no_query_name_is_defined_in_two_modules():
    """The merge is a dict update, so a name defined twice would make
    the later module's query silently shadow the earlier one."""
    for attr in ("QUERIES", "ORACLES"):
        seen = {}
        for mod in registry._MODULES:
            for name in getattr(mod, attr):
                assert name not in seen, (
                    f"{attr} name {name!r} in both {seen.get(name)} "
                    f"and {mod.__name__}"
                )
                seen[name] = mod.__name__


def test_every_oracle_has_a_query_in_its_own_module():
    for mod in registry._MODULES:
        assert set(mod.ORACLES) <= set(mod.QUERIES), mod.__name__


@pytest.fixture
def fake_modules(monkeypatch):
    """Swap the real sub-modules for two small fakes, one with a
    callable oracle that counts its calls, and start from an empty
    oracle cache."""
    calls = []

    def built_sql():
        calls.append(1)
        return "SELECT 2"

    first = types.SimpleNamespace(
        QUERIES={"b": None, "gone": None, "a": None},
        ORACLES={"b": "SELECT 1", "gone": "SELECT 0", "a": built_sql},
    )
    second = types.SimpleNamespace(
        QUERIES={"c": None}, ORACLES={"c": "SELECT 3"}
    )
    monkeypatch.setattr(registry, "_MODULES", (first, second))
    monkeypatch.setattr(registry, "RETIRED", ("gone", "never_defined"))
    monkeypatch.setattr(registry, "_ORACLE_CACHE", {})
    return calls


def test_all_oracles_merges_in_module_order_without_retired(fake_modules):
    assert list(registry.all_queries()) == ["b", "a", "c"]
    assert registry.all_oracles() == {
        "b": "SELECT 1", "a": "SELECT 2", "c": "SELECT 3",
    }
    assert list(registry.all_oracles()) == ["b", "a", "c"]


def test_callable_oracle_is_built_once_and_only_on_demand(fake_modules):
    registry.all_queries()
    assert fake_modules == []
    registry.all_oracles()
    registry.all_oracles()
    assert fake_modules == [1]
    assert registry._ORACLE_CACHE == {"a": "SELECT 2"}
