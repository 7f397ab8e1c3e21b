"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import oracle, run
from perfbench.workloads import WORKLOADS, Call, Workload
from tests.oracles import (
    connected_components_oracle,
    label_propagation_oracle,
    pagerank_oracle,
)

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def _spec():
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)


@pytest.mark.parametrize("units", [run.END_TO_END_UNITS, run.PER_LAYER_UNITS])
def test_result_line_parses_and_fits_the_tail(units):
    # widest values a run can produce: full float digits, large byte counts
    values = {k: 123456789.12345678 for k in units}
    line = run.result_line(values, units, attempted=10_000, failed=10_000)
    assert len(line) < 2000
    parsed = json.loads(line)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
    assert set(parsed["metrics"]) == set(units)


class _FakeProbe:
    def call(self, name, fn, parent):
        return fn(), {"name": name, "parent": parent, "wall_s": 0.01}


def _one_pass(calls, tmp_path):
    r = run.Run(Workload("fake", derive=None, expect=None, calls=calls), 0, False)
    r.ctx = {"checkpoint_dir": str(tmp_path / "checkpoints")}
    r.expected = {"triangles": 7}
    r.passes = [r.one_pass(_FakeProbe(), "pass0")]
    r.setups = [{"setup_s": 1.0}]
    r.n_edges = 1
    r.peak_rss_mb = 1.0
    return r


def _triangles(got):
    return Call(
        "triangles",
        lambda ctx: got,
        lambda res, exp: oracle.check_equal(res, exp["triangles"], "triangles"),
    )


def test_broken_oracle_comparison_lowers_success_rate(tmp_path):
    ok = _one_pass([_triangles(7), _triangles(7)], tmp_path)
    assert (ok.attempted, ok.failed) == (2, 0)
    assert ok.end_to_end()["success_rate"] == 1.0

    broken = _one_pass([_triangles(7), _triangles(8)], tmp_path)
    assert (broken.attempted, broken.failed) == (2, 1)
    assert broken.end_to_end()["success_rate"] == 0.5


def test_a_raising_call_counts_as_failed(tmp_path):
    def boom(ctx):
        raise RuntimeError("operator failed")

    r = _one_pass([_triangles(7), Call("triangles", boom, lambda *a: None)], tmp_path)
    assert (r.attempted, r.failed) == (2, 1)
    assert r.end_to_end()["success_rate"] == 0.5


def _random_graph(seed, n=40, m=120):
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    return src, dst, n


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("tol,max_iter", [(1e-6, 10_000), (0.0, 5)])
def test_vectorized_pagerank_matches_the_loop_oracle(seed, tol, max_iter):
    src, dst, n = _random_graph(seed)
    want, want_iters, _ = pagerank_oracle(
        list(zip(src.tolist(), dst.tolist())), n, tol=tol, max_iter=max_iter
    )
    got, iters = oracle.pagerank_reference(src, dst, n, tol=tol, max_iter=max_iter)
    assert iters == want_iters
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=0)


class _FrameOf:
    """Minimal stand-in for a DataFrame holding ``pdf``."""

    def __init__(self, pdf):
        self.pdf = pdf

    def select(self, *cols):
        return _FrameOf(self.pdf[list(cols)])

    def toPandas(self):
        return self.pdf


def _ranks_result(iterations, pdf):
    return SimpleNamespace(iterations=iterations, ranks=_FrameOf(pdf))


def test_check_ranks_accepts_exact_and_rejects_perturbed():
    src, dst, n = _random_graph(3)
    want, iters = oracle.pagerank_reference(src, dst, n)
    order = np.random.default_rng(0).permutation(n)
    ranks = pd.DataFrame({"id": order, "rank": want[order]})
    oracle.check_ranks(_ranks_result(iters, ranks), want, iters)

    bumped = ranks.assign(rank=ranks["rank"] * (1 + 1e-4))
    for wrong in (
        _ranks_result(iters, bumped),  # ranks off by 1e-4 relative
        _ranks_result(iters + 1, ranks),  # another superstep count
        _ranks_result(iters, ranks[1:]),  # a vertex missing
    ):
        with pytest.raises(AssertionError):
            oracle.check_ranks(wrong, want, iters)


@pytest.mark.parametrize("seed", [4, 5, 6])
@pytest.mark.parametrize("m", [30, 60, 200])
def test_components_and_labelprop_references_match_loop_oracles(seed, m):
    src, dst, n = _random_graph(seed, n=60, m=m)
    edges = list(zip(src.tolist(), dst.tolist()))
    cc = connected_components_oracle(edges, n)
    got_cc = oracle.components_reference(src, dst, n)
    assert got_cc.tolist() == [cc[i] for i in range(n)]
    for steps in (1, 5, 50):
        lpa = label_propagation_oracle(edges, n, steps)
        got = oracle.labelprop_reference(src, dst, n, steps)
        assert got.tolist() == [lpa[i] for i in range(n)]
