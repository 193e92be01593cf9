"""Unit tests of the benchmark's own arithmetic, answer canonicalisation
and input generator. Run from the repository root:

    python3 -m pytest benchmark/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

from measure import Span, attribute, percentile, self_times, union_length  # noqa: E402
from oracle import canon, digest  # noqa: E402


# ---- percentile rule ----------------------------------------------------------
def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(99)), 90) is None
    # nearest rank: the 90th of 1..100 is 90, with exactly 10 samples beyond
    assert percentile([float(v) for v in range(1, 101)], 90) == 90.0
    assert percentile([5.0] * 20, 50) == 5.0
    assert percentile([], 50) is None


# ---- covered intervals and self time -------------------------------------------
def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_counts_concurrent_children_once():
    spans = [
        Span(1, None, "op", 0.0, 10.0),
        Span(2, 1, "a", 1.0, 6.0),
        Span(3, 1, "b", 4.0, 8.0),  # overlaps a: covered 1..8
        Span(4, 2, "c", 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(4.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_attribute_reconciles_with_wall():
    spans = [
        Span(1, None, "op", 1.0, 9.0),
        Span(2, 1, "a", 2.0, 6.0),
        Span(3, 1, "b", 4.0, 8.0),
        Span(4, 2, "c", 2.0, 3.0),
    ]
    by_layer, unattributed = attribute(spans, 0.0, 10.0)
    # 0..2 and 8..10 belong to no layer; 4..6 is shared by a and b
    assert unattributed == pytest.approx(4.0)
    assert by_layer == pytest.approx({"c": 1.0, "a": 2.0, "b": 3.0})
    assert sum(by_layer.values()) + unattributed == pytest.approx(10.0)


def test_attribute_clips_spans_to_window():
    spans = [Span(1, None, "op", 0.0, 10.0), Span(2, 1, "a", 0.0, 10.0)]
    by_layer, unattributed = attribute(spans, 2.0, 5.0)
    assert by_layer == pytest.approx({"a": 3.0})
    assert unattributed == 0.0


# ---- answer canonicalisation -------------------------------------------------------
def test_canon_follows_the_correctness_test_rules():
    assert canon(None) == canon(float("nan")) == "\x00NULL"
    assert canon(53.0) == "53.0" and canon(53) == "53"
    assert canon(-0.0) == "0.0"
    assert canon(1 / 3) == "0.333333333"
    assert canon(b"\x01\xff") == "01ff"
    with pytest.raises(TypeError):
        canon([1, 2])


def test_canon_matches_the_correctness_test():
    import decimal

    import numpy as np

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(HERE)), "tests"))
    from test_correctness import _canon

    for v in (None, float("nan"), 53.0, 53, -0.0, 1 / 3, 1e21, np.float32(0.1),
              np.int64(7), decimal.Decimal("2.50"), "x", True, b"\x00"):
        assert canon(v) == _canon(v), v


def test_digest_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
    b = pd.DataFrame({"y": ["q", "p"], "x": [2, 1]})
    assert digest(a) == digest(b)
    assert digest(a)["rows"] == 2 and digest(a)["columns"] == ["x", "y"]
    c = pd.DataFrame({"x": [1.0, 2.0], "y": ["p", "q"]})  # float dtype differs
    assert digest(a)["values"] != digest(c)["values"]


# ---- generator ---------------------------------------------------------------------
def test_generator_is_seeded_and_predicts_dedup(tmp_path, monkeypatch):
    import gen

    monkeypatch.setattr(gen, "CSV_ROWS", 400)
    monkeypatch.setattr(gen, "LISTINGS_PER_PORTAL", 200)
    a = gen.generate(str(tmp_path / "a"), seed=7, days=2)
    b = gen.generate(str(tmp_path / "b"), seed=7, days=2)
    with open(a["days"][1]["srx"]) as f1, open(b["days"][1]["srx"]) as f2:
        assert f1.read() == f2.read()
    day = a["days"][0]
    with open(day["propnex"]) as f:
        propnex = json.load(f)
    assert len(propnex) == 200 and day["rows_in"] == 400
    # 10% cross-source duplicates collapse to one survivor each
    assert day["scraped_rows"] <= 400 - 20
    assert any(r["description"] == "None" for r in propnex)
    assert any("🏠" in r["description"] for r in propnex)
    csvs = sorted(os.listdir(a["csv_dir"]))
    assert len(csvs) == 4
    with open(os.path.join(a["csv_dir"], csvs[-1])) as f:
        assert f.readline().rstrip().endswith("remaining_lease")
    c = gen.generate(str(tmp_path / "c"), seed=8, days=1)
    with open(c["days"][0]["propnex"]) as f:
        assert json.load(f) != propnex
