"""Self-test of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload on a tiny corpus, traced and untraced, and checks the
JSON contract; checks that a perturbed engine result counts as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.oracle import Oracle, tokenize  # noqa: E402
from perfbench.run import E2E  # noqa: E402
from perfbench.workloads import LAYER_METRICS, QueryRunner, Run  # noqa: E402


def _bench(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--pages", "400"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["build", "serve"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_emits_every_metric(workload, trace):
    res = _bench(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["attempted"] >= 1
    want = LAYER_METRICS if trace else E2E
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bm = json.load(f)
    assert {m["name"]: m["unit"] for m in bm["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in bm["per_layer"]} == LAYER_METRICS


@pytest.fixture(scope="module")
def runner():
    rng = np.random.default_rng(0)
    vocab = [f"w{i}" for i in range(30)]
    texts = [" ".join(rng.choice(vocab, int(rng.integers(3, 30)))) for _ in range(200)]
    docs = pd.DataFrame({
        "url": [f"u{i}" for i in range(200)], "text": texts,
        "lang": rng.choice(["en", "de"], 200), "doc_id": np.arange(200),
    })
    docs["tokens"] = docs["text"].map(tokenize)
    o = Oracle(docs)
    run = Run.__new__(Run)
    run.attempted = run.failed = run.known_failed = 0
    run.problems = []
    mix = SimpleNamespace(synonyms={"w1": ["w2"]})
    return run, QueryRunner(run, None, "", o, mix)


def _rows(pairs):
    return [{"doc_id": d, "score": s} for d, s in pairs]


def test_perturbed_result_is_counted_failed(runner):
    run, qr = runner
    q = {"cls": "or", "q": "w3 w7"}
    score, matched = qr.o.or_scores(["w3", "w7"])
    good = qr.o.ranked(score, matched > 0, 10)
    swapped = list(good)
    swapped[0], swapped[1] = (good[1][0], good[0][1]), (good[0][0], good[1][1])
    rescored = [(good[0][0], good[0][1] + 0.0002)] + good[1:]
    for rows in (good, swapped, rescored):
        ok, known = qr.check(q, _rows(rows))
        run.record(ok, "or", known)
    assert (run.attempted, run.failed) == (3, 2)


def test_synonym_overlap_failure_is_known(runner):
    _, qr = runner
    o = qr.o
    score = o.synonym_scores(["w1", "w2"], qr.mix.synonyms)
    want = o.ranked(score, score > 0, 10, round_first=True)
    wrong = _rows((d, s / 2) for d, s in want)
    assert qr.check({"cls": "synonym", "q": "w1 w2"}, _rows(want)) == (True, None)
    ok, known = qr.check({"cls": "synonym", "q": "w1 w2"}, wrong)
    assert not ok and known  # w2 sits in the groups of both query terms
    ok, known = qr.check({"cls": "synonym", "q": "w1 w5"}, wrong)
    assert not ok and known is None  # no shared member: not the known defect


def test_query_mix_is_seeded():
    rng = np.random.default_rng(1)
    vocab = ["data", "index", "the", "of", "t1", "t2", "t3", "t4", "t5"] + [
        f"h{i}" for i in range(30)]
    texts = [" ".join(rng.choice(vocab, 20)) for _ in range(100)]
    docs = pd.DataFrame({"url": [f"u{i}" for i in range(100)], "text": texts,
                         "lang": "en", "doc_id": np.arange(100)})
    docs["tokens"] = docs["text"].map(tokenize)
    o = Oracle(docs)
    a, b = inputs.QueryMix(o, 7), inputs.QueryMix(o, 7)
    assert a.mix(1) == b.mix(1) and a.synonyms == b.synonyms
    assert inputs.QueryMix(o, 8).mix(1) != inputs.QueryMix(o, 7).mix(1)
