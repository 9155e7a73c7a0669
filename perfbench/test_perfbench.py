"""Tests of the benchmark's own parts (no Spark needed).

    python -m pytest perfbench -q -p no:cacheprovider
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import agm  # noqa: E402
import tracer as TR  # noqa: E402
from quality import best_match_f1  # noqa: E402


def _text(seed, n=600, c=12):
    g = agm.generate(seed, n, c)
    return agm.edge_list_text(g.edges, "t", seed, n)


def test_generator_is_byte_identical_per_seed():
    assert _text(7) == _text(7)
    assert _text(7) != _text(8)


def test_generator_edges_and_memberships():
    g = agm.generate(3, 500, 10)
    u, v = g.edges[:, 0], g.edges[:, 1]
    assert (u < v).all()
    assert len(np.unique(u * 1000 + v)) == len(g.edges)
    members = np.unique(np.concatenate(g.communities))
    # Every node is planted in a community and has an edge.
    assert np.array_equal(members, np.arange(1, 501))
    assert np.array_equal(g.vertex_ids(), np.arange(1, 501))


def test_edge_list_format_has_header_and_one_line_per_edge():
    g = agm.generate(1, 200, 5)
    lines = agm.edge_list_text(g.edges, "t", 1, 200).splitlines()
    body = [ln for ln in lines if not ln.startswith("#")]
    assert lines[0].startswith("#")
    assert len(body) == len(g.edges)
    assert body[0] == "\t".join(map(str, g.edges[0]))


def test_hold_out_splits_edges():
    g = agm.generate(2, 400, 8)
    h = agm.hold_out(g, 2, every=20)
    held = set(h.held.tolist())
    assert len(held) == 20
    assert not any(a in held or b in held for a, b in h.model_edges.tolist())
    assert all(a in held and b not in held for a, b in h.cross.tolist())
    both_held = sum(a in held and b in held for a, b in g.edges.tolist())
    assert len(h.model_edges) + len(h.cross) + both_held == len(g.edges)


def test_f1_of_truth_against_itself_is_one():
    g = agm.generate(4, 300, 6)
    assert best_match_f1(g.communities, g.communities, g.vertex_ids()) == pytest.approx(1.0)


def test_f1_hand_computed():
    truth = [np.array([1, 2, 3, 4])]
    found = [np.array([1, 2]), np.array([5])]
    # truth side: best F1 = 2*2/(4+2) = 2/3; found side: 2/3 and 0.
    expect = 0.5 * (2 / 3) + 0.5 * ((2 / 3 + 0.0) / 2)
    assert best_match_f1(truth, found, np.arange(1, 6)) == pytest.approx(expect)


def _span(i, parent, start, end):
    return TR.Span(i, f"s{i}", parent, "r", start, end)


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: union is [1, 6]
        _span(3, 1, 2.0, 3.0),
    ]
    st = TR.self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert TR.union_length([(1.0, 4.0), (3.0, 6.0), (8.0, 9.0)]) == pytest.approx(6.0)


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


class _FakeFrame:
    _jdf = None


def test_eager_call_on_tagged_output_nests_under_deferred_layer_span():
    tr = TR.Tracer("r", clock=_Clock())
    df = _FakeFrame()
    with tr.span("bigclam.bigclam_fit"):
        tr.tag(df, "bigclam.gradient_state")
        with tr.eager(TR.CHECKPOINT, df):
            pass
        with tr.eager(TR.CHECKPOINT, _FakeFrame()):
            pass
    fit, deferred, ckpt, plain_ckpt = tr.spans
    assert (deferred.name, deferred.deferred, deferred.parent) == ("bigclam.gradient_state", True, fit.id)
    assert (ckpt.name, ckpt.parent) == (TR.CHECKPOINT, deferred.id)
    assert plain_ckpt.parent == fit.id
    st = TR.self_times(tr.spans)
    assert st[deferred.id] == pytest.approx(2.0)  # [2, 5] minus the child's [3, 4]
    assert tr.layer_seconds(TR.CHECKPOINT) == pytest.approx(2.0)


def test_join_stages_sums_stages_completed_inside_each_span():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 4.0)]
    stages = [
        {"completion": c, "tasks": 4, "failed_tasks": 0, "executor_run_s": 1.5,
         "shuffle_read_bytes": 0, "shuffle_write_bytes": 10, "spill_bytes": 0}
        for c in (1.0, 3.0, 11.0)
    ]
    j = TR.join_stages(spans, stages)
    assert j[0]["stages"] == 2 and j[0]["executor_run_s"] == pytest.approx(3.0)
    assert j[1]["stages"] == 1 and j[1]["shuffle_write_bytes"] == 10
