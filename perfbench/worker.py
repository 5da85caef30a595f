"""One benchmark run, in a fresh process: set up, check, measure, report.

``run.py`` starts this after generating the inputs, with an environment
that keeps every scratch file of Spark inside the checkout. The run

1. sets up: builds the SparkSession at ``local[nproc]``, loads the
   registry and, for ``batch_op_mix``, builds the derived artifacts
   (``setup_s``);
2. checks: runs every operation once, untimed, and compares its output
   with the registry's DuckDB oracle. With a few untimed units after it
   (``WARMUP_UNITS``), this is the fixed warm-up that takes the JVM past
   the steep part of its compile ramp and fills the program's caches;
3. measures about ``--seconds`` of work (see ``UNIT_S``) with tracing
   off, one unit at a time, with extra units while the host steals CPU
   (see ``STEAL_MAX``) (end-to-end metrics: throughputs are medians over
   the units), and with ``--trace 1`` measures the same work
   again with tracing on (per-layer metrics), then once more with tracing
   off; the throughput gap between the traced window and the untraced
   ones around it is the tracing overhead.

The result is one JSON document written to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import oracle  # noqa: E402
from stats import geomean, median, percentile  # noqa: E402
from tracing import (  # noqa: E402
    Py4JCounter,
    Tracer,
    host_cpu,
    proc_cpu_s,
    proc_rss_peak_mb,
    steal_frac,
)

NPROC = len(os.sched_getaffinity(0))
PKG = "connor_fun_streamproducer_spark."
ARTIFACT_ROOTS = (".ivf_index", ".neardup_index", ".graph_index", ".kmeans_index")

REF_KEYS = [
    "agg_window_count",
    "enrich_region",
    "enrich_region_grid",
    "route_by_key",
    "sink_kafka",
    "proj_serialize",
]

# Construction-bound mix: one or two keys from each operator family, at
# the sf0.01 shape. The artifact keys serve from on-disk indexes built
# during set-up; sim_search_ivf runs its serving path (no exact-recall
# companion columns), checked against the oracle's matching columns.
MIX_ARTIFACT_KEYS = ["graph_degree_distribution", "sim_search_ivf"]
MIX_KEYS = [
    "stats_welch_ttest",
    "ts_autocorr",
    "pipeline_returns_rate",
    "win_rank",
    "join_asof",
    "agg_rollup",
    "text_quality",
    "corpus_stats",
    "sample_kfold",
    "embedding_normalize_l2",
    *MIX_ARTIFACT_KEYS,
]
SERVING_KWARGS = {"sim_search_ivf": {"with_recall": False}}
SERVING_COLUMNS = {"sim_search_ivf": "query_id, neighbor_id, sim"}

# Modules whose construction and action are reported per layer.
MODULES = [
    "streaming.pipeline",
    "sources.streams",
    "operators.profiling",
    "operators.timeseries",
    "operators.pipelines_global",
    "operators.windows",
    "operators.joins",
    "operators.aggregates",
    "operators.graph",
    "llm.text",
    "llm.corpus",
    "llm.splits",
    "llm.embedding_ops",
    "llm.similarity",
]

# A run measures a fixed amount of work, sized from --seconds by the time
# one unit (a drain, or a pass over the key list) takes warm on a 4-core
# host: a window that stops on the clock would end after a varying number
# of units, and its figures would jump with that number.
UNIT_S = {"stream_region_counts": 4.0, "batch_ref_pipeline": 7.0, "batch_op_mix": 7.0}
# Untimed units after the checked one. Measured on a 4-core host, a pass
# of batch_op_mix takes 1.19x its plateau time after the checked pass,
# 1.08x after one more and 1.02x after two (one warm-up pass keeps its
# runs within the time budget); a drain of stream_region_counts takes
# ~1.12x its plateau time after the checked drain and two more, and
# reaches the plateau after four.
WARMUP_UNITS = {"stream_region_counts": 4, "batch_ref_pipeline": 1, "batch_op_mix": 1}
# The host is a shared VM: while it steals CPU (/proc/stat), the work
# runs slower (on a 4-core host, a drain 1.25x at 3-8% steal and 1.8x at
# 21%; a pass of batch_op_mix 2.7x at 22%), and such episodes come and
# go within a run. While fewer than the planned number of units ran at
# no more than STEAL_MAX steal, another unit is measured, at most half as
# many extra units as planned (at least one: more extra units, at 3-4%
# steal, gave no steadier figure and lengthened the run by a fifth).
# The end-to-end metrics come from the planned number of units with the
# least steal. The choice looks at steal only, never at a unit's result,
# and every unit measured counts towards attempted and failed.
STEAL_MAX = 0.03
# No warm-up or extra unit starts once the run is older than this: at 22%
# steal a batch_op_mix run took 159 s of the 180 s a run may take.
OPTIONAL_UNITS_UNTIL_S = 90.0

STREAM_DURATIONS = {
    "sources.streams.getBatch_ms": "getBatch",
    "sources.streams.latestOffset_ms": "latestOffset",
    "streaming.addBatch_ms": "addBatch",
    "streaming.queryPlanning_ms": "queryPlanning",
    "streaming.walCommit_ms": "walCommit",
    "streaming.commitOffsets_ms": "commitOffsets",
}


E2E_UNITS = {"setup_s": "s", "rows_per_s": "1/s", "ops_per_s": "1/s", "op_geomean_s": "s"}

# Every per-layer metric with its unit, in the order BENCHMARK.json lists
# them. A workload that does not exercise a layer reports 0 for it.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_s": "s",
    "catalog.artifacts_built": "count",
    "catalog.artifact_first_call_s": "s",
    **{name: "ms" for name in STREAM_DURATIONS},
    "sources.streams.drain_overhead_s": "s",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    **{
        f"{m}.{part}": unit
        for m in MODULES
        for part, unit in (("construct_s", "s"), ("py4j_calls", "count"), ("action_s", "s"))
    },
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "driver.cpu_s": "s",
    "jvm.cpu_s": "s",
    "jvm.rss_peak_mb": "MB",
    "host.steal_frac": "frac",
    "trace.overhead_frac": "frac",
}


class Probe:
    """What the traced window records around each operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracer = Tracer()
        self.py4j = Py4JCounter()
        self.n = 0

    def job_group(self, label: str) -> str:
        self.n += 1
        group = f"perfbench-{self.n}"
        self.sc.setJobGroup(group, label)
        return group

    def spark_work(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) Spark ran under one job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numTasks if si else 0
        return len(jobs), stages, tasks


class Window:
    """One measurement window's raw figures."""

    def __init__(self) -> None:
        self.latencies: list[float] = []
        # (rows, operations, wall seconds) of each unit measured
        self.units: list[tuple[int, int, float]] = []
        self.rows = 0
        self.wall_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.check_s: dict[str, float] = {}
        self.op_s: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.py4j_calls: dict[str, list[int]] | list[dict[str, int]] = {}

    def add(self, other: "Window") -> None:
        self.latencies += other.latencies
        self.units += other.units
        self.rows += other.rows
        self.wall_s += other.wall_s
        self.attempted += other.attempted
        self.failed += other.failed
        self.failures += other.failures
        for k, v in other.op_s.items():
            self.op_s.setdefault(k, []).extend(v)

    def e2e(self) -> dict[str, float]:
        """Throughputs are medians over the units; the latency is the
        geometric mean over the operations. (The median latency of the
        op mix falls in the gap between its fast and its slow keys, and
        moved by up to a third from run to run on a 4-core host.)"""
        return {
            "rows_per_s": median(rows / wall for rows, _, wall in self.units),
            "ops_per_s": median(ops / wall for _, ops, wall in self.units),
            "op_geomean_s": geomean(self.latencies),
        }


def _input_rows(df, inputs: str) -> int:
    """Rows of the generated input files the plan of ``df`` scans."""
    import pyarrow.parquet as pq

    rows = 0
    for uri in df.inputFiles():
        path = uri.removeprefix("file:")
        if os.path.abspath(path).startswith(os.path.abspath(inputs) + os.sep):
            rows += pq.read_metadata(path).num_rows
    return rows


class BatchOps:
    """Registry operations run one after another, each to a full
    evaluation (a ``noop`` write: ``count()`` would let the optimizer
    prune projections such as the JSON serialization of sink_kafka)."""

    def __init__(self, spark, inputs: str, keys: list[str], artifact_keys: list[str]) -> None:
        from connor_fun_streamproducer_spark import registry

        self.spark, self.inputs = spark, inputs
        self.registry = registry
        self.keys, self.artifact_keys = keys, artifact_keys
        self.module = {k: registry.OPS[k].fn.__module__.removeprefix(PKG) for k in keys}
        self.rows_in: dict[str, int] = {}

    def _fn(self, key: str):
        return lambda: self.registry.OPS[key].fn(self.spark, self.inputs, **SERVING_KWARGS.get(key, {}))

    def _run(self, key: str) -> tuple[float, float]:
        t0 = perf_counter()
        df = self._fn(key)()
        t1 = perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return t1 - t0, perf_counter() - t1

    def setup(self) -> dict[str, float]:
        """First calls of the artifact keys: they build the on-disk indexes."""
        before = _artifact_dirs()
        t0 = perf_counter()
        for key in self.artifact_keys:
            self._run(key)
        return {
            "catalog.artifact_first_call_s": perf_counter() - t0,
            "catalog.artifacts_built": len(_artifact_dirs() - before),
        }

    def check(self, con, w: Window) -> None:
        for key in self.keys:
            sql = self.registry.OPS[key].oracle
            if sql and key in SERVING_COLUMNS:
                sql = f"SELECT {SERVING_COLUMNS[key]} FROM ({sql})"
            w.attempted += 1
            t0 = perf_counter()
            try:
                df = self._fn(key)()
                self.rows_in[key] = _input_rows(df, self.inputs)
                if sql:
                    err = oracle.compare(con, df.toArrow(), sql)
                else:  # no oracle: the registry asks for a row-count check only
                    err = None if df.count() else "no rows"
            except Exception as exc:  # a failing op is counted, not fatal
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
            w.check_s[key] = perf_counter() - t0
            if err:
                w.failed += 1
                w.failures.append(f"{key}: {err}")

    def measure(self, passes: int, probe: Probe | None) -> Window:
        w = Window()
        per_key: dict[str, list[tuple[float, float, int, tuple[int, int, int]]]] = {}
        for _ in range(passes):
            t_pass, rows0, ops0 = perf_counter(), w.rows, len(w.latencies)
            for key in self.keys:
                w.attempted += 1
                try:
                    if probe is None:
                        c, a = self._run(key)
                        calls, work = 0, (0, 0, 0)
                    else:
                        group = probe.job_group(key)
                        n0, t0 = probe.py4j.count, perf_counter()
                        c, a = self._run(key)
                        calls = probe.py4j.count - n0
                        sid = probe.tracer.add("op", t0, t0 + c + a, None, key=key, py4j_calls=calls)
                        probe.tracer.add("construct", t0, t0 + c, sid)
                        probe.tracer.add("action", t0 + c, t0 + c + a, sid)
                        work = probe.spark_work(group)
                except Exception as exc:  # counted as a failed operation
                    w.failed += 1
                    w.failures.append(f"{key}: {type(exc).__name__}: {str(exc)[:300]}")
                    continue
                w.latencies.append(c + a)
                w.op_s.setdefault(key, []).append(round(c + a, 4))
                w.rows += self.rows_in.get(key, 0)
                per_key.setdefault(key, []).append((c, a, calls, work))
            pass_s = perf_counter() - t_pass
            w.units.append((w.rows - rows0, len(w.latencies) - ops0, pass_s))
            w.wall_s += pass_s
        if probe is not None:
            w.layer = self._layers(per_key)
            w.py4j_calls = {k: [s[2] for s in v] for k, v in per_key.items()}
        return w

    def _layers(self, per_key) -> dict[str, float]:
        out: dict[str, float] = {}
        for key, samples in per_key.items():
            m = self.module[key]
            out[f"{m}.construct_s"] = out.get(f"{m}.construct_s", 0.0) + median(s[0] for s in samples)
            out[f"{m}.action_s"] = out.get(f"{m}.action_s", 0.0) + median(s[1] for s in samples)
            out[f"{m}.py4j_calls"] = out.get(f"{m}.py4j_calls", 0) + samples[0][2]
        work = [s[3] for samples in per_key.values() for s in samples]
        for i, name in enumerate(("spark.jobs", "spark.stages", "spark.tasks")):
            out[name] = median(x[i] for x in work)
        return out


class StreamDrain:
    """The reference job as one Structured Streaming query: the backlog of
    event files is drained to the memory sink, one drain after another
    (a closed loop: the next drain starts when the previous one ended)."""

    def __init__(self, spark, inputs: str) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.backlog = os.path.join(inputs, "backlog")
        log = self.log = {"started": [], "progress": [], "terminated": 0}

        class ProgressLog(StreamingQueryListener):
            def onQueryStarted(self, event):
                log["started"].append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                op = p.stateOperators[0] if p.stateOperators else None
                log["progress"].append(
                    {
                        "runId": str(p.runId),
                        "timestamp": p.timestamp,
                        "rows": p.numInputRows,
                        "ms": dict(p.durationMs),
                        "state_commit_ms": op.commitTimeMs if op else 0,
                        "state_rows": op.numRowsTotal if op else 0,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                log["terminated"] += 1

        spark.streams.addListener(ProgressLog())
        self.reference = None

    def setup(self) -> dict[str, float]:
        return {}

    def _drain(self, probe: Probe | None):
        """One drain: its result frame, its timings and the progress of its batches."""
        from pyspark.sql import functions as F

        from connor_fun_streamproducer_spark.sources.streams import events_stream, run_to_memory
        from connor_fun_streamproducer_spark.streaming.pipeline import enrich, locations_df, with_coords

        n0 = probe.py4j.count if probe else 0
        t0 = perf_counter()
        sdf = events_stream(
            self.spark, self.backlog, path=self.backlog, max_files_per_trigger=gen.STREAM_FILES_PER_BATCH
        )
        t1 = perf_counter()
        n1 = probe.py4j.count if probe else 0
        counts = (
            enrich(with_coords(sdf), locations_df(self.spark))
            .withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "30 seconds").alias("w"), "region_id")
            .agg(F.count("*").alias("n_events"))
            .select("region_id", F.col("w.start").alias("window_start"), "n_events")
        )
        t2 = perf_counter()
        n2 = probe.py4j.count if probe else 0
        result = run_to_memory(counts, output_mode="update")
        t3 = perf_counter()
        n3 = probe.py4j.count if probe else 0
        deadline = time.monotonic() + 30
        while self.log["terminated"] < len(self.log["started"]) and time.monotonic() < deadline:
            time.sleep(0.005)
        run_id = self.log["started"][-1]
        progress = [p for p in self.log["progress"] if p["runId"] == run_id]
        drain = {
            "wall": t3 - t0,
            "run_id": run_id,
            "construct": {"sources.streams": t1 - t0, "streaming.pipeline": t2 - t1},
            "action": t3 - t2,
            "py4j": {"sources.streams": (n1 - n0) + (n3 - n2), "streaming.pipeline": n2 - n1},
        }
        if probe is not None:
            sid = probe.tracer.add("drain", t0, t3, None, run_id=run_id, py4j_calls=n3 - n0)
            probe.tracer.add("construct", t0, t2, sid)
            for p in progress:
                start = _iso_to_perf(p["timestamp"])
                probe.tracer.add(
                    "micro_batch", start, start + p["ms"].get("triggerExecution", 0) / 1000.0, sid,
                    rows=p["rows"], durations_ms=p["ms"],
                )
        return result, drain, progress

    def check(self, con, w: Window) -> None:
        w.attempted += 1
        try:
            result, _, _ = self._drain(None)
            self.reference = _sorted(result.toArrow())
            con.register("drain", self.reference)
            final = con.sql(
                "SELECT region_id, window_start, max(n_events) AS n_events FROM drain GROUP BY ALL"
            ).arrow()
            con.unregister("drain")
            err = oracle.compare(con, final, _registry_oracle("agg_window_count"))
        except Exception as exc:
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        if err:
            w.failed += 1
            w.failures.append(f"stream drain: {err}")

    def measure(self, n_drains: int, probe: Probe | None) -> Window:
        w = Window()
        drains, batches, results = [], [], []
        for _ in range(n_drains):
            w.attempted += 1
            try:
                result, drain, progress = self._drain(probe)
            except Exception as exc:
                w.failed += 1
                w.failures.append(f"stream drain: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            drains.append((drain, progress))
            results.append(result)
            w.wall_s += drain["wall"]
            data = [p for p in progress if p["rows"] > 0]
            w.op_s.setdefault("drain", []).append(round(drain["wall"], 4))
            w.units.append((sum(p["rows"] for p in data), len(data), drain["wall"]))
            batches += data
            w.rows += sum(p["rows"] for p in data)
            w.latencies += [p["ms"]["triggerExecution"] / 1000.0 for p in data]
        # Every drain reads the same backlog in the same batches, so each
        # must emit exactly what the checked drain emitted.
        for result in results:
            if self.reference is not None and not _sorted(result.toArrow()).equals(self.reference):
                w.failed += 1
                w.failures.append("stream drain: output differs from the checked drain")
        if probe is not None:
            w.layer = self._layers(probe, drains, batches)
            w.py4j_calls = [d["py4j"] for d, _ in drains]
        return w

    def _layers(self, probe: Probe, drains, batches) -> dict[str, float]:
        out: dict[str, float] = {
            name: median(p["ms"].get(key, 0) for p in batches) for name, key in STREAM_DURATIONS.items()
        }
        out["streaming.state_commit_ms"] = median(p["state_commit_ms"] for p in batches)
        out["streaming.state_rows"] = median(p["state_rows"] for p in batches)
        out["streaming.batches"] = len(batches)
        out["streaming.rows_per_batch"] = median(p["rows"] for p in batches)
        out["sources.streams.drain_overhead_s"] = median(
            d["wall"] - sum(p["ms"].get("triggerExecution", 0) for p in prog) / 1000.0
            for d, prog in drains
        )
        for m in ("sources.streams", "streaming.pipeline"):
            out[f"{m}.construct_s"] = median(d["construct"][m] for d, _ in drains)
            out[f"{m}.py4j_calls"] = drains[0][0]["py4j"][m]
        out["sources.streams.action_s"] = median(d["action"] for d, _ in drains)
        work = [probe.spark_work(d["run_id"]) for d, _ in drains]
        n_batches = [len(prog) for _, prog in drains]
        for i, name in enumerate(("spark.jobs", "spark.stages", "spark.tasks")):
            out[name] = median(x[i] / max(n, 1) for x, n in zip(work, n_batches))
        return out


_PERF_EPOCH = time.time() - perf_counter()


def _iso_to_perf(ts: str) -> float:
    """A progress timestamp (ISO-8601, UTC) on this process's perf_counter clock."""
    import datetime as dt

    t = dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return t.timestamp() - _PERF_EPOCH


def _sorted(table):
    return table.sort_by([(c, "ascending") for c in table.column_names])


def _registry_oracle(key: str) -> str:
    from connor_fun_streamproducer_spark import registry

    return registry.OPS[key].oracle


def _artifact_dirs() -> set[str]:
    found = set()
    for root in ARTIFACT_ROOTS:
        path = os.path.join(ROOT, root)
        if os.path.isdir(path):
            found |= {os.path.join(root, d) for d in os.listdir(path)}
    return found


def measure_least_stolen(wl, units: int, t_run: float) -> tuple[Window, Window, list[float]]:
    """Measure ``units`` units, one at a time, with extra ones while the
    host steals CPU (see STEAL_MAX). Returns the window of the ``units``
    least-stolen units, the window of all measured units, and each unit's
    steal fraction in the order measured."""
    measured: list[tuple[float, int, Window]] = []
    while len(measured) < units or (
        sum(st <= STEAL_MAX for st, _, _ in measured) < units
        and len(measured) < units + max(1, units // 2)
        and perf_counter() - t_run < OPTIONAL_UNITS_UNTIL_S
    ):
        st0 = host_cpu()
        w = wl.measure(1, None)
        measured.append((steal_frac(st0, host_cpu()), len(measured), w))
    kept, every = Window(), Window()
    for _, _, w in sorted(sorted(measured, key=lambda m: (m[0], m[1]))[:units], key=lambda m: m[1]):
        kept.add(w)
    for _, _, w in measured:
        every.add(w)
    return kept, every, [st for st, _, _ in measured]


def _oracle_tables(workload: str, inputs: str) -> dict[str, str]:
    if workload == "stream_region_counts":
        return {"events": os.path.join(inputs, "backlog", "*.parquet")}
    return {
        f[: -len(".parquet")]: os.path.join(inputs, f) for f in os.listdir(inputs) if f.endswith(".parquet")
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    steal0 = host_cpu()
    t_setup = t_run = perf_counter()
    from connor_fun_streamproducer_spark.session import get_spark

    spark = get_spark("perfbench", cpus=str(NPROC))
    layer = {"session.get_spark_s": perf_counter() - t_setup}
    t = perf_counter()
    from connor_fun_streamproducer_spark import registry

    registry.queries()
    layer["registry.load_s"] = perf_counter() - t
    if args.workload == "stream_region_counts":
        wl = StreamDrain(spark, args.inputs)
    elif args.workload == "batch_ref_pipeline":
        wl = BatchOps(spark, args.inputs, REF_KEYS, [])
    else:
        wl = BatchOps(spark, args.inputs, MIX_KEYS, MIX_ARTIFACT_KEYS)
    layer.update(wl.setup())
    setup_s = perf_counter() - t_setup

    checked = Window()
    t = perf_counter()
    wl.check(oracle.connect(_oracle_tables(args.workload, args.inputs)), checked)
    check_s = perf_counter() - t

    warmup = Window()
    for _ in range(WARMUP_UNITS[args.workload]):
        if perf_counter() - t_run < OPTIONAL_UNITS_UNTIL_S:
            warmup.add(wl.measure(1, None))
    units = max(1, round(args.seconds / UNIT_S[args.workload]))
    jvm = spark.sparkContext._gateway.proc.pid
    cpu0, jvm0, st0 = os.times(), proc_cpu_s(jvm), host_cpu()
    plain, measured, unit_steal = measure_least_stolen(wl, units, t_run)
    cpu1, jvm1, st1 = os.times(), proc_cpu_s(jvm), host_cpu()
    windows = [checked, warmup, measured]
    e2e = {"setup_s": setup_s, **plain.e2e()}
    detail = {
        "workload": args.workload,
        "nproc": NPROC,
        "samples": len(plain.latencies),
        "op_p50_s": percentile(plain.latencies, 50),
        "op_p90_s": percentile(plain.latencies, 90),
        "window_s": plain.wall_s,
        "check_s": check_s,
        "check_s_per_op": checked.check_s,
        "op_s": plain.op_s,
        "host_steal_frac": steal_frac(steal0, host_cpu()),
        "window_steal_frac": steal_frac(st0, st1),
        "unit_steal_frac": unit_steal,
        "units_measured": len(unit_steal),
        "warmup_units": len(warmup.units),
        "failures": [f for w in windows for f in w.failures],
    }
    if args.trace:
        probe = Probe(spark)
        probe.py4j.install()
        traced = wl.measure(units, probe)
        probe.py4j.uninstall()
        # Untraced windows on both sides of the traced one, so the JIT
        # ramp does not pass for tracing overhead.
        after = wl.measure(units, None)
        windows += [traced, after]
        layer.update(traced.layer)
        layer["driver.cpu_s"] = (cpu1.user + cpu1.system) - (cpu0.user + cpu0.system)
        layer["jvm.cpu_s"] = jvm1 - jvm0
        layer["jvm.rss_peak_mb"] = proc_rss_peak_mb(jvm)
        layer["host.steal_frac"] = steal_frac(st0, st1)
        untraced_ops_per_s = (e2e["ops_per_s"] + after.e2e()["ops_per_s"]) / 2
        layer["trace.overhead_frac"] = 1.0 - traced.e2e()["ops_per_s"] / untraced_ops_per_s
        detail["failures"] += traced.failures + after.failures
        metrics = {name: layer.get(name, 0) for name in LAYER_UNITS}
        probe.tracer.write(
            args.trace_out,
            {"workload": args.workload, "metrics": metrics, "e2e_untraced": e2e,
             "e2e_traced": traced.e2e(), "e2e_untraced_after": after.e2e(),
             "py4j_calls": traced.py4j_calls, "detail": detail},
        )
    else:
        metrics = e2e
    unit_of = LAYER_UNITS if args.trace else E2E_UNITS

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    with open(args.out, "w") as f:
        json.dump(
            {
                "attempted": sum(w.attempted for w in windows),
                "failed": sum(w.failed for w in windows),
                "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()},
                "detail": detail,
            },
            f,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
