"""The benchmark's own tests: the percentile rule, self-time arithmetic
on nested spans, and a tiny-size smoke run of every workload that checks
the printed result against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.harness import (  # noqa: E402
    CpuClock,
    Span,
    TooFewSamples,
    interquartile_mean,
    percentile,
    self_times,
)
from perfbench.run import owned_layers  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    assert percentile(range(1, 101), 90) == 90
    assert percentile(range(1, 21), 50) == 10
    with pytest.raises(TooFewSamples):
        percentile(range(1, 100), 90)  # 99 samples: only 9 above the p90
    with pytest.raises(TooFewSamples):
        percentile(range(1, 20), 50)
    assert percentile(range(1, 1001), 99) == 990
    with pytest.raises(TooFewSamples):
        percentile(range(1, 1000), 99)


def test_interquartile_mean_drops_a_quarter_at_each_end():
    assert interquartile_mean([100, 1, 2, 3, 4, 5, 6, -50]) == pytest.approx(3.5)
    assert interquartile_mean(range(23)) == pytest.approx(11.0)  # ranks 6 to 18
    assert interquartile_mean([7.0]) == 7.0


def test_cpu_clock_counts_children_and_not_sleep():
    clock = CpuClock()
    c0 = clock()
    # a child that spins and has ended, then a live child that sleeps
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", spin], check=True)
    spun = clock() - c0
    sleeper = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(1.0)"])
    time.sleep(0.6)
    slept = clock() - c0 - spun
    sleeper.wait()
    assert 0.25 <= spun < 1.0
    assert slept < 0.2


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "root", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 4.0, 0, 1),
        Span(2, "b", 3.0, 6.0, 0, 1),  # overlaps a: covered once
        Span(3, "leaf", 2.0, 3.0, 1, 1),
        Span(4, "b", 7.0, 8.0, 0, 1),  # same name: summed
        Span(5, "late", 9.5, 12.0, 0, 1),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10.0 - (5.0 + 1.0 + 0.5))
    assert st["a"] == pytest.approx(3.0 - 1.0)
    assert st["b"] == pytest.approx(3.0 + 1.0)
    assert st["leaf"] == pytest.approx(1.0)
    assert st["late"] == pytest.approx(2.5)


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _spec():
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        return json.load(f)


def test_every_declared_layer_belongs_to_a_workload():
    names = [m["name"] for m in _declared()["per_layer"]]
    owned = set()
    for w in _declared()["workloads"]:
        owned |= owned_layers(_spec(), w["name"], names)
    assert owned == set(names)


@pytest.mark.parametrize("workload", [w["name"] for w in _declared()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_declared_metric(workload, trace):
    bj = _declared()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600,
    )
    assert out.returncode == 0
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = bj["per_layer"] if trace else bj["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        n: m["unit"] for n, m in result["metrics"].items()
    }
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    if trace:
        # the run fails unless it measured every layer the workload owns;
        # of those, every wall-clock time must be a real reading
        owned = owned_layers(_spec(), workload, [m["name"] for m in declared])
        timed = {n for n in owned if result["metrics"][n]["unit"] in ("s", "ms")}
        assert timed
        assert {n for n in timed if result["metrics"][n]["value"] <= 0} == set()
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_a_directory_without_the_package(tmp_path):
    for rel in ["BENCHMARK.json"] + [
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(ROOT, "perfbench"))
        for f in fs
        if f.endswith((".py", ".json"))
    ]:
        src = os.path.join(ROOT, rel)
        dst = tmp_path / os.path.relpath(src, ROOT)
        dst.parent.mkdir(parents=True, exist_ok=True)
        dst.write_bytes(open(src, "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "registry_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
