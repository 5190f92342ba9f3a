"""``bench.py``'s headline JSON line: the scale it reports and the query
names it times."""

from __future__ import annotations

import importlib.util
import os

import pytest

from nfl_feature_store_spark.registry import QUERIES

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


@pytest.mark.parametrize(
    "sf_dir, sf",
    [
        ("data/sf0.001", 0.001),
        ("data/sf0.01", 0.01),
        ("data/sf0.1/", 0.1),
        ("data/sf1.0", 1.0),
    ],
)
def test_scale_factor_from_directory_name(sf_dir, sf):
    assert bench.scale_factor(sf_dir) == sf


def test_scale_factor_rejects_other_names():
    with pytest.raises(ValueError):
        bench.scale_factor("data/events")


def test_headline_names_are_registry_queries():
    assert set(bench.HEADLINE) <= set(QUERIES)
