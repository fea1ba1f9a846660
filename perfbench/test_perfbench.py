"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, stats  # noqa: E402
from perfbench.trace import fold_progress  # noqa: E402


# -- tail percentile ---------------------------------------------------------


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))  # 100 samples
    t = stats.tail(xs)
    assert t["pct"] == 90.0  # p95 leaves 5 beyond, p90 leaves 10
    assert t["value"] == 90
    assert (t["n"], t["beyond"]) == (100, 10)


def test_tail_switches_percentile_with_sample_count():
    assert stats.tail(list(range(40)))["pct"] == 75.0  # 10 beyond rank 30
    assert stats.tail(list(range(39)))["pct"] == 50.0  # p75 would leave 9
    assert stats.tail(list(range(1000)))["pct"] == 99.0  # p99.9 leaves 1


def test_tail_on_small_sample_reports_median_with_short_count():
    t = stats.tail([5.0, 1.0, 3.0])
    assert t["pct"] == 50.0
    assert t["value"] == stats.median([5.0, 1.0, 3.0]) == 3.0
    assert t["beyond"] < 10


def test_median_never_exceeds_tail():
    rng = np.random.default_rng(0)
    for n in (2, 6, 19, 20, 41, 200):
        xs = rng.exponential(1.0, n).tolist()
        assert stats.median(xs) <= stats.tail(xs)["value"]


def test_percentile_is_nearest_rank():
    xs = [10, 20, 30, 40]
    assert stats.percentile(xs, 50) == 20
    assert stats.percentile(xs, 75) == 30
    assert stats.percentile(xs, 100) == 40
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- recall ------------------------------------------------------------------


def test_recall_counts_overlap_per_query():
    truth = {1: [1, 2, 3, 4], 2: [5, 6, 7, 8]}
    found = {1: [1, 2, 9, 10], 2: [8, 7, 6, 5]}
    assert stats.recall_at_k(found, truth, 4) == pytest.approx((0.5 + 1.0) / 2)


def test_recall_missing_query_scores_zero_and_truncates_to_k():
    truth = {1: [1, 2], 2: [3, 4]}
    assert stats.recall_at_k({1: [1, 2, 3]}, truth, 2) == pytest.approx(0.5)
    assert stats.recall_at_k({1: [9, 1]}, {1: [1, 2, 3]}, 1) == 0.0


def test_exact_topk_matches_brute_force_and_honours_visibility():
    rng = np.random.default_rng(1)
    data = rng.normal(size=(200, 8)).astype(np.float32)
    ids = np.arange(1000, 1200)
    q = rng.normal(size=(5, 8))
    visible = rng.random(200) > 0.3
    got = stats.exact_topk(data, ids, q, 10, visible=visible)
    for i in range(5):
        d = ((data.astype(np.float64) - q[i]) ** 2).sum(axis=1)
        d[~visible] = np.inf
        want = ids[np.argsort(d, kind="stable")[:10]]
        assert got[i].tolist() == want.tolist()
    assert set(got.ravel()) <= set(ids[visible])


def test_exact_topk_pads_when_fewer_rows_are_visible():
    data = np.eye(4, dtype=np.float32)
    got = stats.exact_topk(data, np.arange(4), data[:1], 3,
                           visible=np.array([True, False, True, False]))
    assert got[0].tolist() == [0, 2, -1]


# -- generator -----------------------------------------------------------------


def _files(seed):
    g = gen.Generator(seed)
    return g, [g.file(i, 100, n_queries=3, ttl=5000) for i in range(4)]


def test_generator_is_deterministic_for_a_seed():
    _, a = _files(11)
    _, b = _files(11)
    _, c = _files(12)
    for x, y in zip(a, b):
        assert np.array_equal(x.ids, y.ids)
        assert np.array_equal(x.emb, y.emb)
        assert np.array_equal(x.event_time, y.event_time)
        assert list(x.op) == list(y.op)
    assert not np.array_equal(a[0].emb, c[0].emb)


def test_generator_deletes_earlier_live_ids_with_their_vectors():
    g, files = _files(3)
    ids, emb, ts = g.inserted()
    vec_of = {int(i): v for i, v in zip(ids, emb)}
    seen: set[int] = set()
    deleted: set[int] = set()
    for f in files:
        d = f.select("D")
        assert len(d) == (10 if seen else 0)  # 10% of 100 inserts
        for i, v, t in zip(d.ids, d.emb, d.event_time):
            assert int(i) in seen and int(i) not in deleted
            assert np.array_equal(v, vec_of[int(i)])
            assert t == g.deleted_at[int(i)]
            deleted.add(int(i))
        seen.update(int(i) for i in f.select("I").ids)
    assert int(g.alive.sum()) == len(seen) - len(deleted)


def test_generator_queries_carry_ttl_and_unique_ids():
    g, files = _files(5)
    qs = gen.Elements.concat([f.select("Q") for f in files])
    assert len(set(qs.ids.tolist())) == len(qs) == 12
    assert (qs.ttl == 5000).all()
    assert (qs.ids >= gen.QUERY_ID_BASE).all()


def test_recent_times_favour_now():
    g = gen.Generator(0)
    t = g.recent_times(2000, 100_000, 10_000)
    assert t.max() <= 100_000 and t.min() >= 0
    assert np.median(t) > 90_000


# -- progress folding and the spec -------------------------------------------


def test_fold_progress_medians_and_driver_time():
    prog = [
        {"numInputRows": 5, "durationMs": {"triggerExecution": 100, "addBatch": 70},
         "stateOperators": [{"numRowsTotal": 3, "memoryUsedBytes": 10,
                             "commitTimeMs": 4, "allUpdatesTimeMs": 6}]},
        {"numInputRows": 0, "durationMs": {"triggerExecution": 1}},
        {"numInputRows": 5, "durationMs": {"triggerExecution": 300, "addBatch": 200},
         "stateOperators": [{"numRowsTotal": 7, "memoryUsedBytes": 20,
                             "commitTimeMs": 8, "allUpdatesTimeMs": 2}]},
    ]
    out = fold_progress(prog)
    assert out["trigger.count"] == 2
    assert out["trigger.execution_ms.p50"] == 100
    assert out["trigger.driver_ms.p50"] == 30
    assert out["state.rows_total"] == 7 and out["state.memory_bytes"] == 20


def test_spec_lists_every_layer_metric_once():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    from perfbench import pipeline

    fams = {f"pipeline.family.{pipeline.family(q)}.s" for q in pipeline.QUERIES}
    assert fams <= set(names)
