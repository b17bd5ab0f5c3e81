"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload end to end at the tiny size and check
that each metric BENCHMARK.json declares is printed with its unit. The
negative tests plant a defect in an otherwise correct output and check that
the matching output check trips.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracles  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric(workload, trace):
    code, res = _run(workload, trace)
    assert code == 0
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    if trace:
        assert res["metrics"]["ops.asof.leaks"]["value"] == 0
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_program(tmp_path):
    """Run from a directory holding only the benchmark: no result, non-zero exit."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pit_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# ------------------------------------------------------------ planted defects


@pytest.fixture(scope="module")
def pit_case(tmp_path_factory):
    """Three conversations, one without snapshots, as Spark would write them."""
    d = tmp_path_factory.mktemp("pit")
    us = 1_700_000_000_000_000
    t = pd.DataFrame({
        "conv_id": ["a"] * 4 + ["b"] * 3 + ["c"] * 2,
        "turn_idx": [0, 1, 2, 3, 0, 1, 2, 0, 1],
        "role": ["user"] * 9,
        "text": ["x"] * 9,
        "tool": ["", "exec", "", "search", "", "", "browse", "", ""],
        "ts": [us + s * 10**6 for s in (0, 60, 4000, 4100, 5, 65, 200, 0, 30)],
    })
    s = pd.DataFrame({
        "conv_id": ["a", "a", "b", "b"],
        "snap_ts": [us + s * 10**6 for s in (-30, 4000, 60, 9000)],
        "f_0": [0.5, 1.5, 2.5, 3.5],
        "f_1": [3.14] * 4,
    })
    for name, df in (("transcripts", t), ("snapshots", s)):
        os.makedirs(d / name)
        tab = pa.Table.from_pandas(df, preserve_index=False)
        for c in ("ts", "snap_ts"):
            if c in df:
                i = tab.column_names.index(c)
                tab = tab.set_column(i, c, tab.column(c).cast(pa.timestamp("us")))
        pq.write_table(tab, d / name / "part-0.parquet")
    exp = oracles.pit_expected(str(d / "transcripts"), str(d / "snapshots"))
    asof = exp["keys"].assign(ts=exp["ts_us"], snap_ts=exp["snap_us"])
    feats = exp["keys"].assign(features=list(exp["slots"]))
    return exp, asof, feats


def test_pit_check_passes_on_oracle_output(pit_case):
    exp, asof, feats = pit_case
    assert exp["pruned"] == 1  # f_1 is constant
    fails, hits, total = oracles.check_pit(exp, asof, feats)
    assert fails == [] and hits == total == 9


def test_pit_check_catches_future_shifted_snapshot(pit_case):
    exp, asof, feats = pit_case
    bad = asof.copy()
    i = int(np.flatnonzero(~np.isnan(exp["snap_us"]))[0])
    bad.loc[i, "snap_ts"] = bad.loc[i, "ts"] + 3600 * 10**6
    fails, _, _ = oracles.check_pit(exp, bad, feats)
    assert any("leakage" in f for f in fails)


def test_pit_check_catches_wrong_window_slot(pit_case):
    exp, asof, feats = pit_case
    bad = feats.copy()
    bad.at[3, "features"] = bad.at[3, "features"] + 1e-6
    fails, _, _ = oracles.check_pit(exp, asof, bad)
    assert any("features" in f for f in fails)


def test_pairs_check_catches_dropped_planted_pair():
    docs = inputs.gen_documents(2000, seed=3)
    exp = oracles.pairs_expected(docs, inputs.planted_pairs(len(docs)))
    got = pd.DataFrame(
        [(a, b, oracles.jaccard(docs[a], docs[b])) for a, b in exp],
        columns=["id_a", "id_b", "jaccard"],
    )
    assert oracles.check_pairs(docs, exp, got)[0] == []
    sure = max(exp, key=exp.get)
    assert exp[sure] >= oracles.MH_SURE_JACCARD
    dropped = got[~((got.id_a == sure[0]) & (got.id_b == sure[1]))]
    fails, hits, total = oracles.check_pairs(docs, exp, dropped)
    assert any("missed 1 planted" in f for f in fails) and hits == total - 1


def test_pairs_check_catches_pair_below_threshold():
    docs = inputs.gen_documents(200, seed=4)
    exp = oracles.pairs_expected(docs, inputs.planted_pairs(len(docs)))
    got = pd.DataFrame([(0, 1, oracles.jaccard(docs[0], docs[1]))], columns=["id_a", "id_b", "jaccard"])
    fails, _, _ = oracles.check_pairs(docs, exp, got)
    assert any("below" in f for f in fails)


def _exact_neighbors(ids, E, sample, k=oracles.KNN_K) -> pd.DataFrame:
    U = E / np.linalg.norm(E, axis=1, keepdims=True)
    rows = []
    for q in sample:
        cos = U @ U[q]
        cos[q] = -np.inf
        for r, j in enumerate(np.lexsort((ids, -cos))[:k], 1):
            rows.append((q, int(ids[j]), float(cos[j]), r))
    return pd.DataFrame(rows, columns=["vec_id", "nbr_id", "cosine", "rank"])


def test_knn_check_catches_perturbed_neighbor_list():
    rng = np.random.default_rng(0)
    ids = np.arange(300)
    E = rng.normal(size=(300, 16))
    sample = rng.choice(ids, size=20, replace=False)
    exp = oracles.knn_expected(ids, E, sample)
    got = _exact_neighbors(ids, E, sample)
    n_rows = len(ids)
    fails, hits, total = oracles.check_knn(exp, got, n_rows, n_rows * oracles.KNN_K)
    assert fails == [] and hits == total
    bad = got.copy()
    row = bad.index[(bad.vec_id == sample[0]) & (bad["rank"] == 3)][0]
    others = set(ids.tolist()) - set(bad.loc[bad.vec_id == sample[0], "nbr_id"]) - {int(sample[0])}
    bad.loc[row, "nbr_id"] = min(others)
    fails, _, _ = oracles.check_knn(exp, bad, n_rows, n_rows * oracles.KNN_K)
    assert any("wrong cosine" in f for f in fails)


def test_hotkey_check_catches_wrong_ewma(tmp_path):
    us = 1_700_000_000_000_000
    t = pd.DataFrame({"conv_id": ["c0"] * 5, "turn_idx": range(5),
                      "ts": [us + s * 10**6 for s in (0, 100, 700, 800, 5000)]})
    s = pd.DataFrame({"conv_id": ["c0"] * 2, "snap_ts": [us + 90 * 10**6, us + 790 * 10**6],
                      "f_0": [1.0, 3.0]})
    for name, df in (("t", t), ("s", s)):
        os.makedirs(tmp_path / name)
        tab = pa.Table.from_pandas(df, preserve_index=False)
        c = "ts" if name == "t" else "snap_ts"
        tab = tab.set_column(tab.column_names.index(c), c, tab.column(c).cast(pa.timestamp("us")))
        pq.write_table(tab, tmp_path / name / "part-0.parquet")
    exp = oracles.hotkey_expected(str(tmp_path / "t"), str(tmp_path / "s"), ["c0"])
    assert exp["snap_ts"].tolist() == [us + 90 * 10**6] * 2 + [us + 790 * 10**6] * 3
    assert oracles.check_hotkey(exp, exp.copy(), 5, 5)[0] == []
    bad = exp.copy()
    bad.loc[4, "f_0_ewma"] += 1e-3
    assert oracles.check_hotkey(exp, bad, 5, 5)[0]


def test_every_pipeline_step_has_a_layer():
    """The traced pit_build run hooks every public Pipeline step; a step
    without a layer would fail it, so a new step must be mapped here."""
    from perfbench.workloads import STAGE1, STEP_LAYER
    from pitfeat.pipeline import Pipeline

    steps = {n for n, fn in vars(Pipeline).items() if callable(fn) and not n.startswith("_")}
    assert steps - STAGE1 <= set(STEP_LAYER)
