"""Smoke test of the benchmark itself: every workload at a tiny size, with
tracing off and on, must report exactly the metrics BENCHMARK.json names,
with units, and no failed operation; and the benchmark's grouped oracle
must equal ``oracle_ref.oracle_triples``. Takes a few minutes (one Spark
start per case). Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_reports_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] is True
    assert out["attempted"] >= 1 and out["failed"] == 0
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert ({k: v["unit"] for k, v in out["metrics"].items()}
            == {m["name"]: m["unit"] for m in want})
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_program(tmp_path):
    """Beside only BENCHMARK.json and perfbench/, the benchmark exits
    non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(
                        "_work", "results", "__pycache__"))
    p = _run(str(tmp_path), "--workload", "build_full", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_mention_triples_matches_oracle():
    """sync_ticks checks its reads with ``workloads.mention_triples``; it
    must give exactly the mention triples of ``oracle_triples``, also
    under a canonical map with merges and new idents."""
    import dataclasses
    import random

    sys.path[:0] = [ROOT, HERE]
    from ckg_spark import oracle_ref
    from ckg_spark.datagen import gen_transcripts
    from ckg_spark.vocab import build_vocab
    from workloads import _triples, _union_find, mention_triples

    vocab = build_vocab(n_entities=60, seed=3)
    idents = sorted(set(vocab.aliases["ident"]))
    rng = random.Random(1)
    edges = [tuple(p) for p in vocab.identity_edges[
        ["ident_a", "ident_b"]].itertuples(index=False)]
    edges += [tuple(rng.sample(idents, 2)) for _ in range(8)]
    edges += [(rng.choice(idents), f"ZXO:{j}") for j in range(20)]
    canonical = _union_find(edges)
    corpus = pd.concat([gen_transcripts(600, vocab=vocab, seed=s)
                        for s in (5, 6)], ignore_index=True)
    want = oracle_ref.oracle_triples(
        corpus, dataclasses.replace(vocab, canonical=canonical))
    want = want[want["pred"].isin(["MENTIONED_IN_TURN", "CO_MENTIONED_WITH"])]
    got = mention_triples(oracle_ref.oracle_link(
        oracle_ref.oracle_extract(corpus, vocab), vocab), canonical)
    assert len(got) > 0
    assert (_triples(got.itertuples(index=False))
            == _triples(want[["subj", "pred", "obj", "score"]]
                        .itertuples(index=False)))
