"""The gate runner's query selection (scripts/gates.py), without Spark.

With no names, a gate checks what a change since its newest artifact can
move: a query module's own queries and those of the query modules that
import it, or the whole inventory when a shared module changed.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "spatial_data_engineering_spark"


@pytest.fixture(scope="module")
def gates():
    spec = importlib.util.spec_from_file_location(
        "gates", os.path.join(REPO, "scripts", "gates.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def modules(gates):
    return gates.query_modules()


def test_every_registered_query_maps_to_one_module_file(modules):
    from spatial_data_engineering_spark.queries_registry import all_queries

    listed = [q for qs in modules.values() for q in qs]
    assert len(listed) == len(set(listed))
    assert set(listed) == set(all_queries())
    for path in modules:
        assert os.path.isfile(os.path.join(REPO, path)), path


def test_query_module_change_selects_its_queries(gates, modules):
    zonal = f"{PKG}/operators/zonal.py"
    assert gates.derive([zonal], modules) == sorted(modules[zonal])


def test_importing_query_modules_are_selected_too(gates, modules):
    # clustering imports near_dup_pairs from dedup
    dedup, clustering = (f"{PKG}/operators/{m}.py"
                         for m in ("dedup", "clustering"))
    picked = set(gates.derive([dedup], modules))
    assert set(modules[dedup]) | set(modules[clustering]) <= picked
    assert not picked & set(modules[f"{PKG}/operators/zonal.py"])


@pytest.mark.parametrize("shared", [
    f"{PKG}/memo.py", f"{PKG}/catalog.py", f"{PKG}/queries_registry.py",
    f"{PKG}/operators/spatial_join.py", "__spark_entry__.py"])
def test_shared_module_change_selects_everything(gates, modules, shared):
    everything = sorted(q for qs in modules.values() for q in qs)
    zonal = f"{PKG}/operators/zonal.py"
    assert gates.derive([zonal, shared], modules) == everything


def test_files_outside_the_package_select_nothing(gates, modules):
    assert gates.derive(["README.md", "tests/test_plans.py",
                         "scripts/gates.py"], modules) == []


def test_all_and_explicit_names_override(gates):
    inventory = ["q2", "q1", "q3"]
    assert gates.select("sf1", ["all"], inventory) == ["q1", "q2", "q3"]
    assert gates.select("sf1", ["q3", "q1"], inventory) == ["q3", "q1"]
    with pytest.raises(SystemExit):
        gates.select("sf1", ["q9"], inventory)
