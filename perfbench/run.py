"""Benchmark of the PySpark engine in this repository.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

run from the root of a checkout. Workloads (BENCHMARK.json says why each
one is there):

- ``stream_region_counts``: the reference job as one Structured Streaming
  query, draining a seeded backlog of event files, one drain after another;
- ``batch_op_mix``: a fixed list of registry operators across the operator
  families, on small seeded tables of the sf0.01 shape (construction-bound);
- ``batch_ref_pipeline``: the six reference-pipeline operators over one
  seeded events table split into row groups (execution-bound). It is not
  in BENCHMARK.json: a third workload does not fit the run budget there.

The run generates the workload's inputs from ``--seed`` under
``.perfbench/work/`` (not timed), then starts ``worker.py`` in a fresh
process at ``local[nproc]``. Spark's local, temporary and checkpoint files
stay under that directory, which is removed when the run ends, together
with any derived artifact the run built.

Standard output ends with one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it carries
diagnostics: sample counts, host steal, check time and any failure. A
traced run also writes its spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from worker import NPROC, _artifact_dirs  # noqa: E402

WORKLOADS = ("stream_region_counts", "batch_ref_pipeline", "batch_op_mix")
PACKAGE = "connor_fun_streamproducer_spark"
WORKER_TIMEOUT_S = 165


def _stop_group(pgid: int) -> None:
    """Kill whatever is left in the worker's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", "work", args.workload)
    inputs, tmp = os.path.join(work, "inputs"), os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    artifacts_before = _artifact_dirs()
    proc = None
    # A SIGTERM unwinds through the cleanup below like an exception.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        t = perf_counter()
        gen.make_inputs(args.workload, args.seed, inputs, NPROC)
        gen_s = perf_counter() - t

        env = dict(
            os.environ,
            PYTHONPATH=ROOT,
            PYSPARK_PYTHON=sys.executable,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            SPARK_GRAFT_DRIVER_MEM="3g",
        )
        out = os.path.join(work, "result.json")
        log = os.path.join(work, "worker.log")
        trace_out = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--inputs", inputs, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--trace-out", trace_out, "--out", out,
        ]
        with open(log, "w") as logf:
            proc = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True
            )
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        if rc != 0:
            with open(log) as f:
                tail = f.read()[-4000:]
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: worker {why}\n{tail}", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        if proc is not None:
            _stop_group(proc.pid)
            proc.wait()
        for d in _artifact_dirs() - artifacts_before:
            shutil.rmtree(os.path.join(ROOT, d), ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"detail": {**res["detail"], "inputs_s": gen_s, "seed": args.seed}}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": res["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
