"""Tests of the benchmark's own machinery; no Spark session needed.

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture
def small(monkeypatch):
    """Shrink the corpus so the seed tests stay fast."""
    monkeypatch.setattr(inputs, "N_BASE", 600)
    monkeypatch.setattr(inputs, "N_APPEND", 200)
    monkeypatch.setattr(inputs, "N_DELETE", 20)
    monkeypatch.setattr(inputs, "N_BROWSE", 400)
    monkeypatch.setattr(inputs, "SEARCH_BLOCKS", 4)
    monkeypatch.setattr(inputs, "BROWSE_BLOCKS", 4)
    monkeypatch.setattr(inputs, "BROAD_DF", 5_000)


def _frames_equal(a, b) -> bool:
    return a.equals(b) and list(a.columns) == list(b.columns)


def test_one_seed_reproduces_inputs(small):
    a, b = inputs.search_inputs(7), inputs.search_inputs(7)
    assert a["digest"] == b["digest"]
    assert _frames_equal(a["base"], b["base"])
    assert _frames_equal(a["append"], b["append"])
    assert a["deleted"].tolist() == b["deleted"].tolist()
    assert a["stream"] == b["stream"]
    c, d = inputs.browse_inputs(7), inputs.browse_inputs(7)
    assert c["digest"] == d["digest"] and c["stream"] == d["stream"]
    assert _frames_equal(c["table"], d["table"])


def test_two_seeds_differ(small):
    a, b = inputs.search_inputs(7), inputs.search_inputs(8)
    assert a["digest"] != b["digest"]
    assert a["stream"] != b["stream"]
    assert not set(a["base"]["doc_id"]) & set(b["base"]["doc_id"])
    c, d = inputs.browse_inputs(7), inputs.browse_inputs(8)
    assert c["digest"] != d["digest"] and c["stream"] != d["stream"]


def test_digest_sees_a_one_cell_change(small):
    a = inputs.search_inputs(7)
    base = a["base"].copy()
    base.loc[3, "text"] += " x"
    assert inputs.digest([base, a["append"]],
                         [a["deleted"].tolist(), a["stream"]]) != a["digest"]


def test_every_block_has_the_fixed_class_mix(small):
    stream = inputs.search_inputs(3)["stream"]
    n = sum(inputs.SEARCH_BLOCK.values())
    assert len(stream) == n * inputs.SEARCH_BLOCKS
    for b in range(0, len(stream), n):
        counts = {}
        for cls, _ in stream[b:b + n]:
            counts[cls] = counts.get(cls, 0) + 1
        assert counts == inputs.SEARCH_BLOCK


def test_fill_term_is_indexed_and_never_requested(small):
    a = inputs.search_inputs(5)
    t = a["fill_term"]
    assert a["dfs"][t] > 0
    for _, kw in a["stream"]:
        q = kw.get("query") or ()
        assert t not in (q.split() if isinstance(q, str) else q)


def test_append_ids_follow_base_ids(small):
    a = inputs.search_inputs(5)
    assert a["append"]["doc_id"].min() > a["base"]["doc_id"].max()
    assert set(a["deleted"]) <= set(a["base"]["doc_id"]) | set(a["append"]["doc_id"])
    assert not set(a["deleted"]) & set(a["survivors"]["doc_id"])


# ---------------------------------------------------------- span arithmetic

def _span(i, parent, start, end, rid=None, name="query.search"):
    return {"id": i, "name": name, "parent": parent, "rid": rid,
            "start": start, "end": end}


def test_union_length():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 1), (2, 3)]) == 2.0
    assert spans.union_length([(0, 2), (1, 3)]) == 3.0
    assert spans.union_length([(0, 4), (1, 2), (2, 3)]) == 4.0


def test_self_time_subtracts_children_once():
    tree = [_span(0, None, 0.0, 10.0, name="request"),
            _span(1, 0, 1.0, 4.0, name="query.plan"),
            _span(2, 0, 3.0, 6.0),              # overlaps its sibling
            _span(3, 2, 4.0, 5.0, name="build.x")]
    st = spans.self_times(tree)
    assert st == {0: 5.0, 1: 3.0, 2: 2.0, 3: 1.0}
    assert spans.layer_self_seconds(tree) == {"request": 5.0, "query": 5.0,
                                              "build": 1.0}


def test_request_walls_add_up():
    tree = [_span(0, None, 1.0, 9.0, rid=7, name="request"),
            _span(1, 0, 2.0, 5.0, rid=7),
            _span(2, 0, 5.0, 8.0, rid=7)]
    assert spans.check_request_walls(tree, {7: 8.5}) == []
    # overlapping siblings count the shared second twice
    tree[2]["start"] = 4.0
    assert spans.check_request_walls(tree, {7: 8.5}) == [7]
    # a wall shorter than its own spans is impossible
    assert spans.check_request_walls(tree[:2], {7: 5.0}) == [7]


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(enabled=False)
    with tr.span("query.search", rid=1, jobs=True) as rec:
        assert rec is None
    assert tr.spans == []


# ---------------------------------------------------------------- reporting

def test_quantile_counts_failures_as_missing_the_limit():
    assert workloads.quantile([1.0, 2.0, 3.0], 0.5) == 2.0
    assert workloads.quantile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert workloads.quantile([1.0, 2.0, float("inf")], 0.9) == float("inf")


def test_n_blocks_follows_the_seconds():
    assert workloads.n_blocks(15, 2.5, 20) == 6
    assert workloads.n_blocks(15, 3.0, 60) == 5
    assert workloads.n_blocks(1, 2.5, 20) == 2      # two blocks at least
    assert workloads.n_blocks(600, 2.5, 20) == 20   # no more than generated


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.UNITS
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    names = workloads.empty_layer_metrics()
    assert layers == {k: run.layer_unit(k) for k in names}
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)


def test_browse_model_excludes_own_selection():
    from checks import expected_browse

    table = inputs.browse_table(1).head(200)
    ts0, ts1 = int(table["ts"].min()), int(table["ts"].max())
    d = {"selections": [("lang", ["en"])], "sort": None, "offset": 0,
         "specs": {"lang": {"expand_selection": True, "order_by": "value"}}}
    exp = expected_browse(table, d, ts0, ts1)
    assert exp["num_hits"] == int((table["lang"] == "en").sum())
    counts = dict(exp["facets"]["lang"])
    assert counts == table["lang"].value_counts().to_dict()
    assert exp["hits"] == sorted(table.loc[table["lang"] == "en", "doc_id"])[:10]
    assert np.all(np.diff(exp["hits"]) > 0)
