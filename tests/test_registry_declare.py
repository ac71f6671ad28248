"""The ``@query()`` declarations and how the registry collects them."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys
import textwrap
import types

import pytest

from _kafka_streams_scaffold_spark import registry

_REPO = pathlib.Path(__file__).resolve().parents[1]


def _module(name: str, src: str) -> types.ModuleType:
    mod = types.ModuleType(name)
    exec(
        "from _kafka_streams_scaffold_spark.registry import query\n"
        + textwrap.dedent(src),
        vars(mod),
    )
    return mod


@pytest.fixture
def empty_registry(monkeypatch):
    for attr in ("_QUERIES", "_ORACLES", "_FAMILY"):
        monkeypatch.setattr(registry, attr, {})


def test_declaration_defaults_follow_the_function_name(empty_registry):
    mod = _module(
        "decl_defaults",
        """
        @query()
        def top_items_query(spark, sf_dir): ...

        @query(name="renamed", oracle="OTHER_ORACLE", family="fam")
        def second_query(spark, sf_dir): ...

        @query(oracle=None)
        def rows_only_query(spark, sf_dir): ...

        def helper_query(spark, sf_dir): ...

        def _sql():
            return "SELECT 2"

        @query(oracle="_sql")
        def templated_query(spark, sf_dir): ...

        TOP_ITEMS_ORACLE = "SELECT 1"
        OTHER_ORACLE = "SELECT 3"
        """,
    )
    registry._declare([mod])
    assert list(registry._QUERIES) == [
        "top_items", "renamed", "rows_only", "templated"
    ]
    assert registry._QUERIES["top_items"] is mod.top_items_query
    assert registry._ORACLES == {
        "top_items": "SELECT 1", "renamed": "SELECT 3", "templated": "SELECT 2"
    }
    assert registry._FAMILY == {"renamed": "fam"}


def test_missing_default_oracle_raises(empty_registry):
    """A misspelt oracle constant must not quietly declare a rows-only
    query."""
    mod = _module(
        "decl_typo",
        """
        @query()
        def top_items_query(spark, sf_dir): ...

        TOP_ITEM_ORACLE = "SELECT 1"
        """,
    )
    with pytest.raises(AttributeError, match="TOP_ITEMS_ORACLE"):
        registry._declare([mod])


def test_duplicate_declarations_raise(empty_registry):
    """The round-8 shadowing lesson, at the declaration: one name
    declared in two modules, or a ``name=`` that collides with another
    function's default name, stops the registry from loading."""
    a = _module(
        "decl_a",
        """
        @query(oracle=None)
        def top_items_query(spark, sf_dir): ...
        """,
    )
    b = _module(
        "decl_b",
        """
        @query(oracle=None)
        def top_items_query(spark, sf_dir): ...
        """,
    )
    with pytest.raises(ValueError, match="duplicate query registration"):
        registry._declare([a, b])

    for attr in ("_QUERIES", "_ORACLES", "_FAMILY"):
        getattr(registry, attr).clear()
    c = _module(
        "decl_c",
        """
        @query(oracle=None)
        def top_items_query(spark, sf_dir): ...

        @query(name="top_items", oracle=None)
        def other_query(spark, sf_dir): ...
        """,
    )
    with pytest.raises(ValueError, match="duplicate query registration"):
        registry._declare([c])


def test_imported_declared_function_registers_once(empty_registry):
    a = _module(
        "decl_owner",
        """
        @query(oracle=None)
        def top_items_query(spark, sf_dir): ...
        """,
    )
    b = _module("decl_user", "")
    b.top_items_query = a.top_items_query
    registry._declare([b, a])
    assert list(registry._QUERIES) == ["top_items"]


_ORDER = """
import json, sys
sys.path.insert(0, {repo!r})
from _kafka_streams_scaffold_spark import registry
import importlib
for m in {pre!r}:
    importlib.import_module("_kafka_streams_scaffold_spark.operators." + m)
print(json.dumps(list(registry.queries())))
"""


def test_slot_order_does_not_depend_on_import_order():
    """Importing operator modules (here in reverse) before the registry
    loads leaves the slot order as a fresh process has it."""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _ORDER.format(repo=str(_REPO), pre=pre)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for pre in ([], list(reversed(registry._MODULES)))
    ]
    fresh, reordered = (json.loads(p.communicate(timeout=300)[0]) for p in procs)
    assert all(p.returncode == 0 for p in procs)
    assert len(fresh) == len(set(fresh)) > 400
    assert reordered == fresh
