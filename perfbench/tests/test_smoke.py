"""Tiny-size smoke run of each workload, untraced and traced.

Each case starts its own Spark JVM, so this file takes a few minutes.
"""

import json
import os
import subprocess
import sys

import pytest

import run

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.QUALITY_NAME))
def test_smoke_prints_every_metric(workload, trace):
    done = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--scale", "0.05"],
        cwd=os.path.dirname(BENCH), capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    lines = done.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0

    expected = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    printed = {line.split()[0] for line in lines[:-1] if line.startswith("  ")}
    assert printed == set(expected)
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if trace:
        layers = {"er_two_source": ("blocking", "matching", "clustering", "fusion",
                                    "evaluation", "schemamatching", "profiling"),
                  "corpus_near_dup": ("llmdata", "clustering", "evaluation", "io")}
        for layer in layers[workload]:
            assert result["metrics"][f"{layer}.jobs"]["value"] > 0, layer
            assert result["metrics"][f"{layer}.self_s"]["value"] > 0, layer
        if workload != "er_two_source":
            for stat in ("self_s", "jobs", "executor_s"):
                assert result["metrics"][f"blocking.{stat}"]["value"] == 0
                assert result["metrics"][f"matching.{stat}"]["value"] == 0
    else:
        assert result["metrics"]["pipeline_cpu_s"]["value"] > 0
        assert result["metrics"]["setup_s"]["value"] > 0
