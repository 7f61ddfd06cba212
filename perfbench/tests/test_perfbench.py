"""The benchmark's own tests: input determinism, declared metrics, and
checks that reject corrupted outputs. None of them starts the engine.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import math
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen  # noqa: E402
from perfbench import run as bench_run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture
def small_sizes(monkeypatch):
    sizes = copy.deepcopy(gen.SIZES)
    sizes["ais"].update(backlog_rows=3000, base_rows=500, slices=3, slice_rows=100)
    sizes["corpus"].update(docs=600, warm_docs=20, clusters=10, boilerplate_width=40, vectors=200, requests=3)
    monkeypatch.setattr(gen, "SIZES", sizes)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, small_sizes, workload):
    gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 7, str(tmp_path / "b"))
    gen.generate(workload, 8, str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[f] != c[f] for f in a if f.endswith(".parquet") or f.endswith(".npy"))


def test_cache_reuses_and_evicts(tmp_path, small_sizes, monkeypatch):
    # generate in this process, so the small sizes apply
    monkeypatch.setattr(gen, "generate_apart", gen.generate)
    first = gen.ensure_inputs(str(tmp_path), "ais", 1)
    stamp = os.path.getmtime(os.path.join(first, "manifest.json"))
    assert gen.ensure_inputs(str(tmp_path), "ais", 1) == first
    assert os.path.getmtime(os.path.join(first, "manifest.json")) == stamp
    seeds = range(2, gen.CACHE_KEEP + 2)
    for seed in seeds:
        gen.ensure_inputs(str(tmp_path), "ais", seed)
    assert sorted(os.listdir(tmp_path)) == sorted(f"ais-{s}" for s in seeds)


def test_generator_cli_matches_in_process(tmp_path):
    """The run generates inputs in a child process through the CLI."""
    gen.generate_apart("corpus", 4, str(tmp_path / "cli"))
    gen.generate("corpus", 4, str(tmp_path / "lib"))
    assert _files(str(tmp_path / "cli")) == _files(str(tmp_path / "lib"))


def test_declared_metrics_match_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        decl = json.load(fh)
    e2e = {m["name"]: m for m in decl["end_to_end"]}
    per_layer = {m["name"]: m for m in decl["per_layer"]}
    assert {n: m["unit"] for n, m in e2e.items()} == bench_run.END_TO_END
    assert {n: m["unit"] for n, m in per_layer.items()} == bench_run.PER_LAYER
    assert 1 <= len(e2e) <= 16 and 1 <= len(per_layer) <= 128
    names = [m["name"] for m in decl["end_to_end"] + decl["per_layer"] + decl["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    for m in decl["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("lower", "higher")
    for m in decl["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.fullmatch(m["unit"])
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert [w["name"] for w in decl["workloads"]] == list(gen.WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in decl["workloads"])


def test_run_fails_without_the_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: non-zero, no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ais", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def _segment_case():
    rng = np.random.default_rng(3)
    table, _ = gen.segments(rng, 400, 0, np.arange(30), 50)
    rows = table.to_pylist()
    outputs = {}
    for r in rows:
        if r["duration"] == 0:
            continue
        outputs[r["segment_id"]] = {**r, **check.enriched_reference(r)} if r["geom"] is None else dict(r)
    assert any(r["duration"] == 0 for r in rows) and any(r["geom"] is None for r in rows)
    return rows, outputs


def test_segment_check_accepts_reference_and_rejects_corruption():
    rows, outputs = _segment_case()
    assert check.check_segments(rows, outputs) == []
    enriched = next(r["segment_id"] for r in rows if r["geom"] is None and r["duration"] != 0)
    preserved = next(r["segment_id"] for r in rows if r["geom"] is not None and r["duration"] != 0)
    zero = next(r for r in rows if r["duration"] == 0)

    bad = copy.deepcopy(outputs)
    bad[enriched]["len_m"] = math.nextafter(bad[enriched]["len_m"], math.inf)  # one ulp off
    assert len(check.check_segments(rows, bad)) == 1
    bad = copy.deepcopy(outputs)
    bad[preserved]["sog_kt"] += 1.0
    assert len(check.check_segments(rows, bad)) == 1
    bad = copy.deepcopy(outputs)
    bad[zero["segment_id"]] = dict(zero)
    assert len(check.check_segments(rows, bad)) == 1
    bad = copy.deepcopy(outputs)
    del bad[enriched]
    assert len(check.check_segments(rows, bad)) == 1


def test_daily_count_check():
    want = {"2019-01-01": 3, "2019-01-02": 5}
    assert check.check_daily_counts([("2019-01-01", 3), ("2019-01-02", 5)], want) == []
    assert check.check_daily_counts([("2019-01-01", 3), ("2019-01-02", 4)], want)
    assert check.check_daily_counts([("2019-01-01", 3)], want)


def test_dedup_checks_reject_wrong_pairs_and_groups():
    texts = {
        1: "a b c d e f g h i j",
        2: "a b c d e f g h i k",
        3: "a b c d e f g h x y",
        4: "p q r s t u v w x y",
    }
    sh = {i: check.shingle_set(t) for i, t in texts.items()}
    common, jac = check.jaccard(sh[1], sh[2])
    assert (common, jac) == (7, 7 / 9)
    good = [(1, 2, common, jac)]
    assert check.check_pairs(good, sh, 0.7) == []
    assert check.check_pairs([(1, 2, common, jac + 1e-12)], sh, 0.7)
    assert check.check_pairs([(2, 1, common, jac)], sh, 0.7)
    assert check.check_pairs(good + good, sh, 0.7)
    assert check.planted_pairs([[1, 2, 3]], sh, 0.7) == {(1, 2)}
    # one document cut off from its cluster costs many pairs but one document
    planted = {(a, b) for a in range(1, 6) for b in range(a + 1, 6)} | {(6, 7)}
    assert check.planted_recall(planted, planted) == (1.0, 1.0)
    assert check.planted_recall(planted, {p for p in planted if 5 not in p}) == (7 / 11, 6 / 7)
    assert check.planted_recall(planted, {(6, 7), (1, 6)}) == (1 / 11, 2 / 7)
    assert check.check_groups([(1, 2, 1)], [(1, 2)]) == []
    assert check.check_groups([(1, 3, 2)], [(1, 2)])
    assert check.check_groups([(1, 2, 0)], [(1, 2)])


def test_topk_check_rejects_wrong_scores_and_measures_recall():
    rng = np.random.default_rng(5)
    corpus = rng.normal(size=(100, 8)).astype(np.float32)
    queries = rng.normal(size=(3, 8)).astype(np.float32)
    idx, cos = check.exact_topk(queries, corpus, 10)
    exact = {j: [(int(i), float(c), r + 1) for r, (i, c) in enumerate(zip(idx[j], cos[j]))] for j in range(3)}
    errors, recall = check.check_topk(exact, queries, corpus, 10)
    assert errors == [] and recall == 1.0
    partial = {j: rows[:5] for j, rows in exact.items()}
    errors, recall = check.check_topk(partial, queries, corpus, 10)
    assert errors == [] and recall == 0.5
    wrong = copy.deepcopy(exact)
    wrong[0][0] = (wrong[0][0][0], wrong[0][0][1] + 1e-3, 1)
    assert check.check_topk(wrong, queries, corpus, 10)[0]
    swapped = copy.deepcopy(exact)
    swapped[1][0], swapped[1][1] = (swapped[1][1][0], swapped[1][1][1], 1), (swapped[1][0][0], swapped[1][0][1], 2)
    assert check.check_topk(swapped, queries, corpus, 10)[0]


def test_quartiles_match_statistics_quantiles():
    from statistics import quantiles

    from perfbench.compare import quartiles

    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
    assert quartiles(vals) == tuple(quantiles(vals, n=4))
