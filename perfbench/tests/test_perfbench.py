"""Tests of the benchmark's own code: seeded inputs and the output checks.

None of these start Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, workloads  # noqa: E402
from perfbench.run import Run  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.fixture(scope="module", params=inputs.WORKLOADS)
def generated(request, tmp_path_factory):
    w = request.param
    dirs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = str(tmp_path_factory.mktemp(f"{w}-{tag}"))
        inputs.generate(w, seed, d)
        dirs[tag] = d
    return w, dirs


def test_same_seed_gives_identical_inputs_and_expected(generated):
    w, dirs = generated
    assert _files(dirs["a"]) == _files(dirs["b"])
    exp_a = inputs.expected(w, dirs["a"])
    exp_b = inputs.expected(w, dirs["b"])
    assert inputs.digest(exp_a) == inputs.digest(exp_b)


def test_other_seed_gives_other_inputs(generated):
    w, dirs = generated
    a, c = _files(dirs["a"]), _files(dirs["c"])
    assert a.keys() == c.keys()
    assert all(a[name] != c[name] for name in a)
    assert inputs.digest(inputs.expected(w, dirs["a"])) != inputs.digest(
        inputs.expected(w, dirs["c"])
    )


def _edge_df(exp: tuple) -> pd.DataFrame:
    f, n, w = exp
    return pd.DataFrame({"focal": f, "neighbor": n, "weight": w})


def _spatial_outputs(exp: dict) -> dict:
    """What a correct engine returns for every spatial_weights call."""
    pid, poly = exp["operators.pip.pip_join"]
    lag, comp = exp["graph.lag"], exp["graph.component_labels"]
    n_queen = exp["plans.lineage.write_with_lineage"]
    return {
        "operators.distance.distance_band": _edge_df(exp["operators.distance.distance_band"]),
        "operators.distance.knn": _edge_df(exp["operators.distance.knn"]),
        "graph.lag": pd.DataFrame({"id": list(lag), "lag": list(lag.values())}),
        "graph.component_labels": pd.DataFrame(
            {"id": list(comp), "component": list(comp.values())}
        ),
        "io.weights_io.write_parquet": None,
        "io.weights_io.read_parquet": _edge_df(exp["io.weights_io.read_parquet"]),
        "operators.contiguity.queen": _edge_df(exp["operators.contiguity.queen"]),
        "plans.lineage.write_with_lineage": {"partitions": {"0": {"rows": n_queen}}},
        "plans.lineage.verify": {"0": "ok"},
        "operators.pip.pip_join": pd.DataFrame({"point_id": pid, "polygon_id": poly}),
    }


@pytest.fixture(scope="module")
def spatial(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("spatial"))
    inputs.generate("spatial_weights", 3, d)
    return inputs.expected("spatial_weights", d)


def _checked_run(outputs: dict, exp: dict) -> Run:
    calls = [workloads.Call(name, lambda st, v=value: v) for name, value in outputs.items()]
    run = Run(calls, counters=None)
    got, _ = run.cold_pass(collect=lambda v: v)
    run.record_check(workloads.check("spatial_weights", got, exp))
    return run


def test_correct_outputs_pass(spatial):
    run = _checked_run(_spatial_outputs(spatial), spatial)
    assert run.attempted == 10
    assert run.failed == 0 and run.fail_ratio == 0.0


@pytest.mark.parametrize(
    "call, corrupt",
    [
        ("operators.distance.distance_band", lambda df: df.iloc[1:]),
        ("operators.distance.knn", lambda df: df.assign(neighbor=df["neighbor"].shift(1, fill_value=0))),
        ("io.weights_io.read_parquet", lambda df: df.assign(weight=df["weight"] * 1.001)),
        ("graph.lag", lambda df: df.assign(lag=df["lag"] + 1e-6)),
        ("graph.component_labels", lambda df: df.assign(component=df["id"])),
        ("operators.pip.pip_join", lambda df: pd.concat([df, df.iloc[:1]])),
        ("plans.lineage.verify", lambda st: {"0": "mismatch"}),
    ],
)
def test_corrupted_output_raises_fail_ratio(spatial, call, corrupt):
    outputs = _spatial_outputs(spatial)
    outputs[call] = corrupt(outputs[call])
    run = _checked_run(outputs, spatial)
    assert run.failed == 1
    assert run.fail_ratio == pytest.approx(1 / 10)


def test_raising_call_counts_as_failed(spatial):
    outputs = _spatial_outputs(spatial)

    def boom(state):
        raise RuntimeError("engine failure")

    calls = [workloads.Call(name, lambda st, v=value: v) for name, value in outputs.items()]
    calls[0] = workloads.Call(calls[0].name, boom)
    run = Run(calls, counters=None)
    got, _ = run.cold_pass(collect=lambda v: v)
    run.record_check(workloads.check("spatial_weights", got, spatial))
    assert run.failed == 1 and got[calls[0].name] is None


def test_gabriel_reference_matches_the_definition():
    # a flat rhombus: point 3 lies inside the diametral disk of 0-2 only
    ids = np.array([0, 1, 2, 3], dtype=np.int64)
    xy = np.array([[0.0, 0.0], [2.0, 1.0], [4.0, 0.0], [2.0, -1.0]])
    a, b = inputs.gabriel_pairs(ids, xy)
    assert set(zip(a.tolist(), b.tolist())) == {(0, 1), (1, 2), (2, 3), (0, 3), (1, 3)}
    # random points: against the definition over every pair and every point
    rng = np.random.default_rng(5)
    xy = rng.uniform(0.0, 100.0, (60, 2))
    ids = np.arange(60, dtype=np.int64) * 3 + 1
    want = {
        (int(ids[p]), int(ids[q]))
        for p in range(60) for q in range(p + 1, 60)
        if not any(((xy[p] - xy[q]) ** 2).sum() > ((xy[p] - xy[k]) ** 2).sum()
                   + ((xy[q] - xy[k]) ** 2).sum() for k in range(60))
    }
    a, b = inputs.gabriel_pairs(ids, xy)
    assert set(zip(a.tolist(), b.tolist())) == want


def test_minhash_reference_pairs_identical_texts():
    texts = ["a b c d e f", "a b c d e f", "x y z"]
    ids = np.array([5, 3, 9], dtype=np.int64)
    assert inputs.minhash_pairs(ids, texts) == {(3, 5)}
