"""Tests for the benchmark's measurement helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import statistics
import types

import pytest

from perfbench import inputs
from perfbench.measure import (
    Tracer,
    failed_fraction,
    percentile,
    prefix_layers,
    samples_beyond,
    self_times,
)


def test_percentile_interpolates_and_matches_median():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == statistics.median(xs)
    assert percentile([1.0, 2.0], 25) == pytest.approx(1.25)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_samples_beyond():
    # 145 catalog samples: 14 lie beyond p90
    assert samples_beyond(145, 90) == 14
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 9
    assert samples_beyond(20, 50) == 10


def test_failed_fraction():
    assert failed_fraction(20, 0) == 0.0
    assert failed_fraction(8, 2) == 0.25
    with pytest.raises(ValueError):
        failed_fraction(0, 0)
    with pytest.raises(ValueError):
        failed_fraction(3, 4)


def test_prefix_layers_differences():
    layers, flagged = prefix_layers([("scan", 1.0), ("kind", 1.5), ("udf", 4.0)])
    assert layers == {"scan": 1.0, "kind": 0.5, "udf": 2.5}
    assert flagged == []


def test_prefix_layers_clamps_and_flags_negative():
    layers, flagged = prefix_layers([("scan", 1.0), ("kind", 0.9), ("udf", 2.0)])
    assert layers["kind"] == 0.0
    assert flagged == ["kind"]
    # the next layer is measured against the actual previous prefix time
    assert layers["udf"] == pytest.approx(1.1)


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),    # overlaps child 1: union 1..5
        _span(3, 0, 9.0, 12.0),   # clipped to the parent's end
        _span(4, 1, 1.5, 2.0),    # grandchild: counts against 1, not 0
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[2] == pytest.approx(2.0)
    assert own[4] == pytest.approx(0.5)


def test_tracer_nests_records_and_dumps(tmp_path):
    tr = Tracer(enabled=True, run_id="r1")
    with tr.span("outer") as outer:
        with tr.span("inner", query="q"):
            pass
    assert [s["name"] for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1]["parent"] == outer["id"]
    assert all(s["run_id"] == "r1" and s["end"] >= s["start"] for s in tr.spans)
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    assert json.loads(path.read_text())["spans"][1]["attrs"] == {"query": "q"}


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as rec:
        assert rec is None
    assert tr.spans == []


def test_tracer_wrap_times_calls_and_undoes():
    Mod = types.ModuleType("pkg.mod")
    Mod.f = lambda x: x + 1
    tr = Tracer(enabled=True)
    undo = tr.wrap(Mod, "f")
    assert Mod.f(1) == 2
    assert tr.spans[0]["name"] == "mod.f"
    undo()
    Mod.f(1)
    assert len(tr.spans) == 1


def test_catalog_tables_are_a_function_of_the_seed():
    a, b, c = inputs.catalog_tables(3), inputs.catalog_tables(3), inputs.catalog_tables(4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert any(t.endswith(" dup") for t in docs["text"])


def test_benchmark_items_are_windows_of_their_documents():
    texts = [" ".join(f"w{i}_{j}" for j in range(40)) for i in range(10)]
    items = inputs.benchmark_items(texts, seed=1, n_items=4, words=20)
    assert len(items) == 4
    for _, text in items:
        assert any(text in t for t in texts)
        assert len(text.split()) == 20
