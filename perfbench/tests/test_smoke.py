"""Tiny-corpus smoke runs of every workload through the real command.

Each run starts its own Spark session (about a minute), so this file takes
several minutes. It checks that every metric named in BENCHMARK.json is
printed with its unit and that the outputs pass the oracle check, and that
a corrupted expected digest is reported as failed repetitions.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
SF = 0.001


def bench(workload: str, trace: int, seed: int):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
         "--sf", str(SF)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["facts", "warehouse"])
def test_every_metric_printed_with_its_unit(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    lines, result = bench(workload, trace, seed=0)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        assert any(line.split()[0] == m["name"]
                   and line.split()[-1] == m["unit"] for line in lines)
    counts = next(json.loads(line[len("counts "):]) for line in lines
                  if line.startswith("counts "))
    assert counts["n_triples"] > 0 and all(j > 0
                                           for j in counts["jobs_per_rep"])


def test_corrupted_expected_digest_is_reported_as_failures():
    sys.path.insert(0, ROOT)
    from perfbench.corpus import ensure_corpus
    from perfbench.run import WORK

    corpus_dir, meta = ensure_corpus(os.path.join(WORK, "corpus"), 1, SF)
    try:
        meta["expected"]["edges"]["hash"] = "0" * 16
        with open(os.path.join(corpus_dir, "meta.json"), "w") as f:
            json.dump(meta, f)
        _, result = bench("warehouse", 0, seed=1)
        assert result["correct"] is False
        assert result["failed"] == result["attempted"] >= 1
    finally:
        shutil.rmtree(corpus_dir)
