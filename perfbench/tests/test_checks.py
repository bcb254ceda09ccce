"""The reference implementations and the benchmark's own bookkeeping.

Run with: python -m pytest perfbench/tests
"""

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import oracle, run, workloads

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def edges(pairs):
    a = np.array(pairs, dtype=np.int64)
    return a[:, 0], a[:, 1]


def test_components_label_is_least_id():
    src, dst = edges([(5, 3), (3, 9), (20, 11), (11, 12), (12, 20), (7, 1)])
    ids, comp = oracle.components(src, dst)
    assert dict(zip(ids.tolist(), comp.tolist())) == {
        1: 1, 7: 1, 3: 3, 5: 3, 9: 3, 11: 11, 12: 11, 20: 11,
    }


def test_triangle_count_of_k4_plus_tail():
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    src, dst = edges(k4 + [(3, 4), (4, 5)])
    assert oracle.triangle_count(src, dst) == 4


def test_pagerank_mass_is_conserved_with_dangling_vertices():
    src, dst = edges([(0, 1), (1, 2), (2, 0), (0, 3)])
    ids, r = oracle.pagerank(src, dst, iters=10)
    assert r.sum() == pytest.approx(1.0)
    assert len(ids) == 4


def test_hits_on_a_star():
    src, dst = edges([(0, k) for k in range(1, 5)])
    ids, auth, hub = oracle.hits(src, dst, iters=3)
    assert hub.tolist() == [1.0, 0, 0, 0, 0]
    assert auth.tolist() == [0, 0.25, 0.25, 0.25, 0.25]


def test_label_propagation_breaks_ties_to_least_label():
    # a path 1-2-3: vertex 2 sees labels {1, 3} once each and takes 1;
    # the ends see only 2
    src, dst = edges([(1, 2), (2, 3)])
    ids, labels = oracle.label_propagation(src, dst, iters=1)
    assert dict(zip(ids.tolist(), labels.tolist())) == {1: 2, 2: 1, 3: 2}


def test_checks_report_mismatches():
    ref = (np.array([1, 2]), np.array([0.5, 0.5]))
    ok = pd.DataFrame({"id": [2, 1], "rank": [0.5, 0.5]})
    assert oracle.check_close(ok, ref, ["rank"]) is None
    assert "differs" in oracle.check_close(ok.assign(rank=[0.5, 0.6]), ref, ["rank"])
    assert "vertex set" in oracle.check_exact(pd.DataFrame({"id": [1], "comp": [1]}), ref, "comp")
    src, dst = np.array([1, 2]), np.array([2, 3])
    assert oracle.check_edges(pd.DataFrame({"src": [2, 1], "dst": [3, 2]}), src, dst) is None
    assert "duplicate" in oracle.check_edges(pd.DataFrame({"src": [1, 1, 2], "dst": [2, 2, 3]}), src, dst)


def test_drop_newest_manifests_keeps_the_oldest(tmp_path):
    for it in range(4):
        (tmp_path / f"{it:06d}.json").write_text("{}")
        (tmp_path / f"{it:06d}.v1.json").write_text("{}")
    (tmp_path / "notes.txt").write_text("")
    assert workloads.drop_newest_manifests(str(tmp_path)) == 2
    assert sorted(os.listdir(tmp_path)) == [
        "000000.json", "000000.v1.json", "000001.json", "000001.v1.json", "notes.txt",
    ]
    single = tmp_path / "single"
    single.mkdir()
    (single / "000000.json").write_text("{}")
    assert workloads.drop_newest_manifests(str(single)) == 0


def test_metric_names_match_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        n: run.unit_of(n) for n in run.per_layer_names()
    }
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
