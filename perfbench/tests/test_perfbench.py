"""The benchmark's own tests, at tiny sizes.

    python -m pytest perfbench/tests -q

The run tests start the benchmark as a subprocess (a Spark session each, about
half a minute per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks  # noqa: E402
from perfbench.corpus import Corpus, content_id, hashing_embed, serve_corpus  # noqa: E402
from perfbench.workloads import Run, tail_percentile  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# -- checkers -----------------------------------------------------------------
@pytest.fixture(scope="module")
def corpus() -> Corpus:
    return serve_corpus(seed=7, n=300)


def test_exact_check_accepts_the_oracle(corpus):
    q = corpus.vecs[3]
    rows = corpus.topk(q, 10)[:10]
    assert checks.check_exact(rows, corpus, q, 10) == []


def test_exact_check_flags_a_swapped_id(corpus):
    q = corpus.vecs[3]
    top = corpus.topk(q, 30)
    rows = top[:10]
    rows[4] = (top[20][0], rows[4][1])  # an id from outside the top-10, same distance
    assert checks.check_exact(rows, corpus, q, 10)
    rows = top[:10]
    rows[2], rows[3] = (rows[3][0], rows[2][1]), (rows[2][0], rows[3][1])  # two ids trade ranks
    assert checks.check_exact(rows, corpus, q, 10)


def test_exact_check_honours_filters(corpus):
    q, f = corpus.vecs[5], {"category": 3}
    rows = corpus.topk(q, 10, f)[:10]
    assert checks.check_exact(rows, corpus, q, 10, f) == []
    assert checks.check_exact(corpus.topk(q, 10)[:10], corpus, q, 10, f)


def test_model_flags_a_deleted_id_that_reappears():
    model = checks.TableModel()
    metas = [{"doc": i, "text": f"t{i}"} for i in range(3)]
    rows = [(content_id(m), m, hashing_embed(m["text"])) for m in metas]
    assert model.insert(rows) == 3
    assert model.insert(rows[:1]) == 0  # a re-sent duplicate adds nothing
    model.delete([rows[1][0]])
    assert model.check_count(2) == []
    assert model.check_count(3)
    assert model.check_rows([(rows[0][0], metas[0])]) == []
    assert model.check_rows([(rows[1][0], metas[1])])  # deleted, yet visible


def test_model_flags_a_lost_patch():
    model = checks.TableModel()
    m = {"doc": 1, "text": "x"}
    model.insert([(content_id(m), m, hashing_embed("x"))])
    new_id = model.update(content_id(m), {"label": "r1"})
    assert model.check_rows([(new_id, {**m, "label": "r1"})]) == []
    assert model.check_rows([(content_id(m), m)])  # the pre-patch row


def test_ann_check_wants_k_rows(corpus):
    q = corpus.vecs[3]
    rows = corpus.topk(q, 10)[:10]
    assert checks.check_ann(rows, corpus, q, 10) == ([], 1.0)
    problems, r = checks.check_ann(rows[:9], corpus, q, 10)
    assert problems and r == 0.9
    assert checks.check_ann([], corpus, q, 10)[0]


def test_ann_check_reports_recall_of_far_rows(corpus):
    q = corpus.vecs[3]
    far = corpus.topk(q, len(corpus))[-10:]  # valid ids and distances, wrong neighbours
    problems, r = checks.check_ann(far, corpus, q, 10)
    assert problems == [] and r == 0.0
    assert checks.check_mean_recall([r, r, 1.0], 10)
    assert checks.check_mean_recall([0.0, 1.0], 10) == []  # one miss in two
    assert checks.check_mean_recall([1.0] * 63 + [0.0], 10) == []


def test_hybrid_check_wants_k_rows(corpus):
    rows = [(i, 1.0 - n / 100) for n, i in enumerate(corpus.ids[:10])]
    assert checks.check_hybrid(rows, corpus, 10) == []
    assert checks.check_hybrid(rows[:3], corpus, 10)
    assert checks.check_hybrid([], corpus, 10)
    assert checks.check_hybrid(rows[::-1], corpus, 10)  # ascending scores


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(np.arange(100.0)))[0] == 90.0
    assert tail_percentile(list(np.arange(40.0)))[0] == 75.0
    assert tail_percentile(list(np.arange(39.0))) is None


def test_mix_mean_weights_each_op_median():
    run = Run(None, 1, 1.0, "tiny", "unused", None, 0.0, None)
    run.mix = {"a": 3, "b": 1}
    run.lat["a"] += [1.0, 2.0, 100.0]
    assert run.mix_mean_ms() is None  # an op of the mix has no sample
    run.lat["b"].append(10.0)
    assert run.mix_mean_ms() == (3 * 2.0 + 10.0) / 4
    run.lat["a"].append(2.0)  # more calls of one op do not shift the weights
    assert run.mix_mean_ms() == (3 * 2.0 + 10.0) / 4


def test_hashing_twin_matches_the_package():
    from modal_vector_db_spark.embedders import HashingEmbedder

    for text in ("w001 w002", "", "a longer query text"):
        assert np.array_equal(HashingEmbedder(dim=64).embed(text), hashing_embed(text))


# -- BENCHMARK.json -----------------------------------------------------------
def test_benchmark_json_shape():
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in SPEC[key]]
    assert len(names) == len(set(names))
    assert {"setup_s"} <= {m["name"] for m in SPEC["end_to_end"]}
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert max(m["bound"] for m in SPEC["end_to_end"]) == next(
        m["bound"] for m in SPEC["end_to_end"] if m["name"] == "setup_s"
    )
    assert 2 <= len(SPEC["workloads"]) <= 8 and len(SPEC["per_layer"]) <= 128


# -- runs ---------------------------------------------------------------------
def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.fixture(scope="module")
def runs() -> dict:
    out = {}
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            p = _run(w["name"], trace)
            assert p.returncode == 0, p.stderr[-3000:]
            out[w["name"], trace] = p.stdout.splitlines()
    return out


def _printed(lines: list[str], kind: str) -> dict[str, str]:
    return {ln.split()[1]: ln.split()[3] for ln in lines if ln.startswith(kind + " ")}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_printed_with_its_unit(runs, workload):
    for trace, key, kind in ((0, "end_to_end", "metric"), (1, "per_layer", "layer")):
        lines = runs[workload, trace]
        result = json.loads(lines[-1])
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        assert {n: v["unit"] for n, v in result["metrics"].items()} == want
        printed = _printed(lines, kind)
        assert {n: printed.get(n) for n in want} == want


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_and_untraced_runs_print_the_same_end_to_end_set(runs, workload):
    assert set(_printed(runs[workload, 0], "metric")) == set(_printed(runs[workload, 1], "metric"))


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("serve", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not any(ln.startswith("{") for ln in p.stdout.splitlines())
