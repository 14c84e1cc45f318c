"""Spark-free checks of the measurement tooling and of the registry's
presentation order (the driver's 50-entry correctness window)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

from geospatial_data_lake_spark import registry

_AB = Path(__file__).resolve().parent.parent / "tools" / "ab.py"


def _ab():
    spec = importlib.util.spec_from_file_location("ab", _AB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def should_pin_priority_to_the_driver_window():
    queries = registry.load_all_queries()
    assert len(queries) == 244
    assert len(registry._PRIORITY) == 50
    assert list(queries)[:50] == list(registry._PRIORITY)


def should_alternate_which_side_runs_first():
    ab = _ab()
    assert [ab.pair_order(i) for i in range(4)] == [
        ("A", "B"), ("B", "A"), ("A", "B"), ("B", "A"),
    ]


def should_summarize_pairs_with_ties_counting_for_neither_side():
    ab = _ab()
    a = [10.0, 12.0, 11.0, 14.0, 13.0]
    b = [9.0, 12.0, 12.0, 13.0, 13.0]  # wins, tie, loss, win, tie
    s = ab.summarize(a, b)
    assert s == {
        "a_median": 12.0, "a_iqr": 2.0, "b_median": 12.0, "b_wins": 2, "pairs": 5,
    }
    assert ab.b_wins(a, b, better="higher") == 1
    assert ab.iqr([3.0]) == 0.0
    assert ab.iqr([1.0, 2.0, 3.0, 4.0]) == 1.5
