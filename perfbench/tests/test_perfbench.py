"""Tests of the benchmark itself: seeded inputs, the percentile and
geometric-mean helpers, the choice of units by host steal, and the
exactness of the traced py4j counts.

    python3 -m pytest perfbench/tests -q

The last test starts two traced benchmark runs (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import worker  # noqa: E402
from stats import geomean, percentile  # noqa: E402


def _tables(out_dir: str) -> dict[str, object]:
    found = {}
    for base, _, files in os.walk(out_dir):
        for f in files:
            path = os.path.join(base, f)
            found[os.path.relpath(path, out_dir)] = pq.read_table(path)
    return found


@pytest.mark.parametrize("workload", ["stream_region_counts", "batch_ref_pipeline", "batch_op_mix"])
def test_seed_determines_inputs(tmp_path, workload):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.make_inputs(workload, seed, str(tmp_path / name), nproc=4)
    a, b, c = (_tables(str(tmp_path / n)) for n in "abc")
    assert a.keys() == b.keys() == c.keys()
    assert all(a[k].equals(b[k]) for k in a)
    events = [k for k in a if "events" in k or k.startswith("backlog")]
    assert events and all(not a[k].equals(c[k]) for k in events)


def test_percentile_reports_sample_count():
    p = percentile([4.0, 1.0, 3.0, 2.0], 50)
    assert p.n == 4 and p.value == pytest.approx(2.5)
    assert percentile([5.0], 90) == (5.0, 1)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([0.5, 0.5, 0.5]) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        geomean([])


class _Units:
    """A workload whose n-th unit takes n + 1 seconds."""

    def __init__(self) -> None:
        self.n = 0

    def measure(self, units, probe):
        w = worker.Window()
        self.n += 1
        w.attempted, w.wall_s = 1, float(self.n)
        w.units = [(100, 1, float(self.n))]
        w.latencies = [float(self.n)]
        return w


@pytest.mark.parametrize(
    "steal, measured, kept",
    [
        ([0.0, 0.0, 0.0], 3, [1.0, 2.0, 3.0]),  # a quiet host: no extra unit
        ([0.1, 0.0, 0.0, 0.0], 4, [2.0, 3.0, 4.0]),  # one stolen unit is replaced
        ([0.1, 0.2, 0.0, 0.05, 0.0], 4, [1.0, 3.0, 4.0]),  # extra units are capped
    ],
)
def test_least_stolen_units(monkeypatch, steal, measured, kept):
    fractions = iter(steal)
    monkeypatch.setattr(worker, "steal_frac", lambda before, after: next(fractions))
    chosen, every, unit_steal = worker.measure_least_stolen(_Units(), 3, worker.perf_counter())
    assert [u[2] for u in chosen.units] == kept
    assert every.attempted == len(unit_steal) == measured


def _traced_py4j_counts(seed: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "batch_op_mix",
           "--seed", str(seed), "--seconds", "1", "--trace", "1"]
    subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, timeout=300)
    with open(os.path.join(ROOT, ".perfbench", "traces", f"batch_op_mix-seed{seed}.json")) as f:
        return json.load(f)["py4j_calls"]


def test_traced_py4j_counts_repeat_exactly():
    first, second = _traced_py4j_counts(3), _traced_py4j_counts(3)
    assert first == second
    assert all(len(set(calls)) == 1 and calls[0] > 0 for calls in first.values())
