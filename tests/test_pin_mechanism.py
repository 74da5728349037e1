"""The shared-evidence pin mechanism (registry._pinned): the inventory
bench.py times, application-scoped eviction, no entry for a failed
build, and a structural guard so no pin hand-rolls its own cache."""

import inspect
import re

import pytest

from probability_of_buying_two_products_together_hadoop_project_spark import (
    registry,
)

PIN_NAMES = {
    "near_dup_pairs",
    "near_dup_clusters",
    "node_codes",
    "cooc_sym_edges",
    "scan_sigma_tri",
    "pca_scatter",
    "dsir_lw",
    "bpe_evidence",
    "substr_spans",
}


@pytest.fixture()
def isolated_pins(monkeypatch):
    """Pins defined inside a test register into a copy of the inventory
    and store into an empty store, so they never reach
    shared_evidence_builders() or the real pins' entries."""
    monkeypatch.setattr(registry, "_PINS", dict(registry._PINS))
    monkeypatch.setattr(registry, "_PIN_STORE", {})


def test_inventory_is_the_nine_pins_in_dependency_order():
    builders = registry.shared_evidence_builders()
    assert len(builders) == 9 and set(builders) == PIN_NAMES
    names = list(builders)
    assert names.index("near_dup_pairs") < names.index("near_dup_clusters")
    # the node dictionary feeds the coded edge pin, which feeds sigma
    assert (
        names.index("node_codes")
        < names.index("cooc_sym_edges")
        < names.index("scan_sigma_tri")
    )
    assert builders["pca_scatter"] is registry._pca_scatter


def test_stale_application_entries_evicted_by_next_pin_call(spark, sf_smoke):
    for name in PIN_NAMES:
        registry._PIN_STORE[("app-stopped", sf_smoke, name)] = object()
    scatter = registry._pca_scatter(spark, sf_smoke)
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in registry._PIN_STORE)
    assert registry._PIN_STORE[(app, sf_smoke, "pca_scatter")] is scatter


def test_hit_returns_stored_object_per_sf_dir(spark, isolated_pins):
    builds = []

    @registry._pinned("test_counting")
    def counting(spark, sf_dir):
        builds.append(sf_dir)
        return [sf_dir]

    a = counting(spark, "sf_a")
    assert counting(spark, "sf_a") is a
    b = counting(spark, "sf_b")
    assert b == ["sf_b"] and b is not a
    assert builds == ["sf_a", "sf_b"]
    assert len(registry._PIN_STORE) == 2


def test_failed_build_leaves_no_entry(spark, isolated_pins):
    @registry._pinned("test_failing")
    def failing(spark, sf_dir):
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        failing(spark, "sf_x")
    assert registry._PIN_STORE == {}


def test_registry_has_one_pin_mechanism():
    src = inspect.getsource(registry)
    # the applicationId read lives only in _pinned: a new shared pin
    # cannot hand-roll its own application-scoped cache
    assert src.count("sparkContext.applicationId") == 1
    assert "sparkContext.applicationId" in inspect.getsource(registry._pinned)
    caches = [n for n in vars(registry) if n.endswith("_CACHE")]
    assert caches == ["_SOURCE_EXPORT_CACHE"]
    assert re.findall(r"^(_\w*_CACHE)\b", src, re.M) == ["_SOURCE_EXPORT_CACHE"]
