"""Tests for the depth-sweep references in perfbench/check.py.

Run with:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check import label_propagation_ref, pagerank_ref, sweep_issues  # noqa: E402

Q = 1_000_000_000_000


def test_pagerank_ref_two_cycle_is_a_fixed_point():
    assert pagerank_ref([(1, 2), (2, 1)], 3) == {1: (Q, 1), 2: (Q, 1)}


def test_pagerank_ref_star_by_hand():
    # hub 1 splits its mass over two leaves; each leaf sends all to 1
    edges = [(1, 2), (1, 3), (2, 1), (3, 1)]
    got = pagerank_ref(edges, 1)
    base = Q * 3 // 20
    assert got[1] == (base + (2 * Q) * 17 // 20, 2)
    assert got[2] == got[3] == (base + (Q // 2) * 17 // 20, 1)
    # the damped recurrence conserves total mass on this graph
    assert sum(r for r, _ in got.values()) == 3 * Q


def test_label_propagation_ref_path_by_hand():
    pairs = [("a", "b"), ("b", "c")]
    assert label_propagation_ref(pairs, 1) == {"a": "a", "b": "a", "c": "b"}
    assert label_propagation_ref(pairs, 2) == {"a": "a", "b": "a", "c": "a"}


def test_sweep_issues_flags_a_wrong_rank_and_a_missing_node():
    edges = [(1, 2), (2, 1)]
    ok = pd.DataFrame({"node": [1, 2], "rank_q": [Q, Q], "outdeg": [1, 1]})
    assert sweep_issues("pagerank", 2, ok, edges) == []
    wrong = ok.assign(rank_q=[Q, Q + 1])
    assert sweep_issues("pagerank", 2, wrong, edges)
    assert sweep_issues("pagerank", 2, ok.iloc[:1], edges)


def test_sweep_issues_label_propagation():
    pairs = [("a", "b"), ("b", "c")]
    got = pd.DataFrame({"node": ["a", "b", "c"], "label": ["a", "a", "b"]})
    assert sweep_issues("label_propagation", 1, got, pairs) == []
    assert sweep_issues("label_propagation", 2, got, pairs)
