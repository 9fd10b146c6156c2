#!/usr/bin/env python3
"""End-to-end benchmark of the Spark loan engine, one workload per run.

    python3 perfbench/run.py --workload loan_etl|olap_tpch|llm_ops \
        --seed N --seconds S --trace 0|1

Run from the repository root. One run is one fresh process: it
prepares the workload's inputs (``loan_etl`` generates its CSVs from
``--seed``; the registry workloads read the vendored testdata under
``perfbench/data``, and the seed orders their ops), imports the
package, launches the JVM and starts the session the way ``bench.py``
does (``get_spark(cpus=nproc, input_bytes=..., latency_profile=True)``)
``SETUP_REPEATS`` times, and drives a closed loop with one client on
the last session: a cold pass, then as many warm
passes as fill ``--seconds`` at the workload's nominal pass time (at
least ``MIN_WARM``; see ``warm_passes``). Every call into
the package is timed from outside (the build call and the force of
its result separately) and every op execution is checked against
the DuckDB oracle after its pass, outside the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``: the gated end-to-end metrics with ``--trace 0``
and the per-layer metrics (Spark event log, job groups, Catalyst
trackers) with ``--trace 1``. The line before it, ``report {...}``,
carries every end-to-end figure with its unit, the box stamp, input
sizes, per-op figures and the failure list. All scratch (generated
inputs, Spark local dirs, export output, event logs) lives under
``.perfbench/`` in the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shlex
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPEATS = 3  # JVM launches per run; setup_s takes their median
MIN_WARM = 2
# The box-speed reference (see RefSort) and its time on this 4-core box
# when uncontended: the gated times are scaled by REF_SORT_S over the
# run's fastest reference sort, i.e. reported in seconds at that speed.
REF_SORT_N = 4_000_000
REF_SORT_S = 0.08
PHASES = ("analysis", "optimization", "planning")
# The end-to-end metrics of the final JSON line (BENCHMARK.json
# "end_to_end"): times scaled to the reference box speed. The report
# line carries every other figure, unscaled. Host CPU steal and host
# contention on a shared box move raw wall times by up to 2x between
# runs; CPU seconds rise under both too (contended cores run slower).
# failed_frac is 0 at HEAD and is in attempted/failed.
END_TO_END = ("setup_s", "pass_cal_s", "op_geomean_cal_s")
# The per-layer metrics of the final JSON line (BENCHMARK.json
# "per_layer"). The report line also carries etl.build_s,
# etl.export_s, etl.analytics_s and operators.python_task_s, which are
# zero by construction on the workloads without that layer.
PER_LAYER = (
    "session.start_s", "session.conf_leaks",
    "queries.build_s", "queries.build_jobs", "queries.force_s", "queries.force_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.core_util",
    "exec.sched_delay_s", "exec.stage_skew_max", "exec.gc_s", "exec.task_failures",
    "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
    "io.scan_bytes", "io.write_bytes",
    "operators.python_bytes_sent", "operators.python_bytes_received",
    "etl.cache_bytes", "trace.pass_s",
)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Spark loan engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(scratch: str, trace: bool) -> None:
    """Environment for the JVM and Python workers, set before launch:
    workers import the package from the checkout, and every file Spark
    or the package writes lands under ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    for d in ("tmp", "spark-local", "eventlog", "cwd"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_TMP"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "cwd", "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            # no zstd codec module on the box: plain JSON lines
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one file per app
            "spark.eventLog.dir": "file://" + os.path.join(scratch, "eventlog"),
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    os.chdir(os.path.join(scratch, "cwd"))  # derby.log, metastore_db


def warm_passes(wl, seconds: float) -> int:
    """Warm passes that fill ``seconds`` at the workload's nominal pass
    time (checks included) on a 4-core box, at least ``MIN_WARM``. The
    count depends on ``seconds`` only, never on measured speed, so a
    faster program yields the same samples, not more of them."""
    return max(MIN_WARM, round(seconds / wl.nominal_pass_s))


def warm_up(spark) -> None:
    spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()


class Tracer:
    """Trace-only work around each call, all outside the timed regions:
    SQL conf snapshots (keys an op leaves changed) and the Catalyst
    phase times of each forced DataFrame's ``QueryExecution``, the one
    its collect planned and ran."""

    def __init__(self, spark):
        self.spark = spark
        self.leaks: set[str] = set()
        self.before: dict = {}

    def snapshot(self) -> None:
        self.before = dict(self.spark.conf.getAll)

    def conf_diff(self) -> None:
        after = dict(self.spark.conf.getAll)
        self.leaks |= {k for k, v in after.items() if self.before.get(k) != v}

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in PHASES:
            opt = phases.get(name)
            out[f"catalyst.{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out


class RefSort:
    """The box's speed now: ``java.util.Arrays.parallelSort`` over a
    copy of ``REF_SORT_N`` random longs in the driver JVM, host CPU
    steal taken out. It is fixed JDK code on every core, no part of the
    package, so a change to the package does not move it, while a host
    that runs every core slower (contention from other guests, which
    the guest does not see as steal) moves it as it moves a pass."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self.src = self.jvm.java.util.Random(0).longs(REF_SORT_N).toArray()
        self.times: list[float] = []

    def measure(self, reps: int = 5) -> None:
        """Untimed, before each pass; the run keeps the fastest sort, as
        it keeps each op's fastest warm call."""
        for _ in range(reps):
            arr = self.jvm.java.util.Arrays.copyOf(self.src, REF_SORT_N)
            host0, t0 = stats.cpu_times(), time.perf_counter()
            self.jvm.java.util.Arrays.parallelSort(arr)
            t = time.perf_counter() - t0
            self.times.append(t * stats.run_share(host0, stats.cpu_times()))


def settle(spark) -> None:
    """Untimed, before each pass: collect garbage in both processes so
    every pass starts from a similar heap and the previous pass's check
    results are not collected inside a timed call."""
    gc.collect()
    gc.freeze()  # long-lived objects (modules, oracle results) stop being rescanned
    spark.sparkContext._jvm.java.lang.System.gc()


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def run_pass(wl, spark, p: int, seed: int, tracer: Tracer | None,
             ref: RefSort) -> tuple[list[dict], int]:
    """One pass: the untimed box-speed reference, timed calls back to
    back, then the untimed checks. Returns (samples, cached bytes at the
    end of the pass)."""
    sc = spark.sparkContext
    ops = wl.pass_ops(random.Random(seed * 1_000_003 + p))
    settle(spark)
    ref.measure()
    done = []
    for op in ops:
        s = {"pass": p, "op": op.name, "build_s": 0.0, "force_s": 0.0, "error": None}
        if tracer:
            tracer.snapshot()
        sc.setJobGroup(f"{wl.name}:{op.name}:build", f"pass {p}")
        val = out = None
        cpu0, host0 = stats.tree_cpu_s(), stats.cpu_times()
        try:
            t0 = time.perf_counter()
            val = out = op.build()
            s["build_s"] = time.perf_counter() - t0
            if op.force:
                sc.setJobGroup(f"{wl.name}:{op.name}:force", f"pass {p}")
                t0 = time.perf_counter()
                out = op.force(val)
                s["force_s"] = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — counted as a failed execution
            s["error"] = f"{type(e).__name__}: {str(e)[:200]}"
        s["cpu_s"] = stats.tree_cpu_s() - cpu0
        s["run_share"] = stats.run_share(host0, stats.cpu_times())
        if tracer and s["error"] is None:
            tracer.conf_diff()
            if op.force:
                s.update(tracer.catalyst_ms(val))
        s["total_s"] = s["build_s"] + s["force_s"]
        s["adj_s"] = s["total_s"] * s["run_share"]
        done.append((op, out, s))
    for op, val, s in done:
        if s["error"] is None:
            sc.setJobGroup(f"{wl.name}:{op.name}:check", f"pass {p}")
            try:
                s["error"] = op.check(val)
            except Exception as e:  # noqa: BLE001
                s["error"] = f"check {type(e).__name__}: {str(e)[:200]}"
    cached = cached_bytes(spark)
    wl.end_pass()
    return [s for _, _, s in done], cached


def end_to_end(samples: list[dict], setup_s: float, rss_mb: float,
               speed: float) -> tuple[dict, dict]:
    """Every end-to-end figure. ``speed`` scales the gated times to the
    reference box speed (REF_SORT_S over the run's reference time)."""
    passes = sorted({s["pass"] for s in samples})
    pass_s = {p: sum(s["total_s"] for s in samples if s["pass"] == p) for p in passes}
    warm = [s for s in samples if s["pass"] > 0]
    per_op: dict[str, list[float]] = {}
    for s in warm:
        per_op.setdefault(s["op"], []).append(s["total_s"])
    op_med = {k: stats.median(v) for k, v in per_op.items()}
    cpu_med = {k: stats.median([s["cpu_s"] for s in warm if s["op"] == k]) for k in per_op}
    adj_min = {k: min(s["adj_s"] for s in warm if s["op"] == k) for k in per_op}
    tail, pct, n = stats.tail([s["total_s"] for s in warm])
    metrics = {
        "setup_s": (setup_s * speed, "s"),
        "setup_raw_s": (setup_s, "s"),
        "cold_pass_s": (pass_s[0], "s"),
        # the median warm pass, op by op: one slow call in one pass does
        # not move it, a slower op in every pass does
        "pass_s": (sum(op_med.values()), "s"),
        "op_p50_s": (stats.median([s["total_s"] for s in warm]), "s"),
        "op_tail_s": (tail, "s"),
        "op_geomean_s": (stats.geomean(list(op_med.values())), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        # CPU seconds of all processes over the same calls: the work a
        # pass costs, which host CPU steal does not inflate
        "pass_cpu_s": (sum(cpu_med.values()), "s"),
        "cold_pass_cpu_s": (sum(s["cpu_s"] for s in samples if s["pass"] == 0), "s"),
        "op_cpu_geomean_s": (stats.geomean(list(cpu_med.values())), "s"),
        # wall time with host CPU steal taken out of each call, best warm
        # pass op by op, at the reference box speed: a lost core or a
        # straggler shows here, which CPU seconds miss, and a burst of
        # steal or a slower first warm pass (the JIT still compiling)
        # does not
        "pass_steal_adj_s": (sum(adj_min.values()), "s"),
        "pass_cal_s": (sum(adj_min.values()) * speed, "s"),
        "op_geomean_cal_s": (stats.geomean(list(adj_min.values())) * speed, "s"),
    }
    extra = {
        "pass_s_all": [round(pass_s[p], 4) for p in passes],
        "op_tail": {"percentile": round(pct, 1), "samples": n},
        "op_median_s": {k: round(v, 4) for k, v in sorted(op_med.items())},
        "op_cold_s": {s["op"]: round(s["total_s"], 4) for s in samples if s["pass"] == 0},
        "op_warm": {k: {f: [round(s[f], 4) for s in warm if s["op"] == k]
                        for f in ("total_s", "cpu_s", "adj_s")} for k in per_op},
    }
    return metrics, extra


def per_layer(samples, totals, per_op_ev, tracer, launches, cached, cores) -> tuple[dict, dict]:
    warm = [s for s in samples if s["pass"] > 0]
    n_warm = max(1, len({s["pass"] for s in warm}))
    wall = sum(s["total_s"] for s in warm)
    layers = {name: totals.get(name, 0.0) for name in (
        "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.sched_delay_s",
        "exec.gc_s", "exec.task_failures", "shuffle.read_bytes", "shuffle.write_bytes",
        "shuffle.spill_bytes", "io.scan_bytes", "io.write_bytes",
        "operators.python_bytes_sent", "operators.python_bytes_received",
        "operators.python_task_s", "queries.build_jobs", "queries.force_jobs")}
    for name in PHASES:
        key = f"catalyst.{name}_ms"
        layers[key] = sum(s.get(key, 0.0) for s in warm)
    layers["queries.build_s"] = sum(s["build_s"] for s in warm)
    layers["queries.force_s"] = sum(s["force_s"] for s in warm)
    layers = {k: v / n_warm for k, v in layers.items()}  # per warm pass
    layers["exec.core_util"] = totals.get("exec.task_s", 0.0) / max(1e-9, wall * cores)
    layers["exec.stage_skew_max"] = totals.get("exec.stage_skew_max", 1.0)
    layers["session.start_s"] = stats.median(launches)
    layers["session.conf_leaks"] = len(tracer.leaks)
    layers["etl.cache_bytes"] = cached
    per_op: dict[str, list[float]] = {}
    for s in warm:
        per_op.setdefault(s["op"], []).append(s["total_s"])
    layers["trace.pass_s"] = sum(stats.median(v) for v in per_op.values())  # as pass_s
    for name, op in (("etl.build_s", "pipeline"), ("etl.export_s", "export")):
        layers[name] = sum(s["total_s"] for s in warm if s["op"] == op) / n_warm
    layers["etl.analytics_s"] = sum(
        s["total_s"] for s in warm if s["op"] in {f"q{i}" for i in range(6)}) / n_warm

    breakdown = {}
    for s in warm:
        b = breakdown.setdefault(s["op"], {"build_s": 0.0, "force_s": 0.0})
        b["build_s"] += s["build_s"] / n_warm
        b["force_s"] += s["force_s"] / n_warm
        for name in PHASES:
            key = f"catalyst.{name}_ms"
            b[key] = b.get(key, 0.0) + s.get(key, 0.0) / n_warm
    for op, ev in per_op_ev.items():
        b = breakdown.setdefault(op, {})
        for k, v in ev.items():
            b[k] = v / n_warm
    return layers, breakdown


UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes", "_mb": "MB"}


def unit_of(name: str) -> str:
    if name == "exec.core_util":
        return "frac"
    if name == "exec.stage_skew_max":
        return "ratio"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def run(args, scratch: str) -> tuple[dict, dict]:
    box = stats.box_stamp()
    trace = bool(args.trace)
    prepare_env(scratch, trace)
    wl = WORKLOADS[args.workload]()

    t0 = time.perf_counter()
    info = wl.prepare(os.path.join(scratch, "data"), args.seed)
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    import duckdb_data_eng_proj_spark.queries  # noqa: F401 — the full public surface
    from duckdb_data_eng_proj_spark.session import get_spark
    import_s = time.perf_counter() - t0

    cores = stats.nproc()
    launches, spark = [], None
    try:
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            spark = get_spark(cpus=cores, input_bytes=info["input_bytes"],
                              latency_profile=True)
            launches.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("FATAL")
            if i < SETUP_REPEATS - 1:  # the next get_spark launches a new JVM
                spark.stop()
                _stop_jvm()
        t0 = time.perf_counter()
        warm_up(spark)
        warm_up_s = time.perf_counter() - t0
        setup_s = import_s + stats.median(launches) + warm_up_s

        t0 = time.perf_counter()
        wl.compute_expected()
        oracle_s = time.perf_counter() - t0
        wl.bind(spark)
        tracer = Tracer(spark) if trace else None

        samples, cached, ref = [], 0, RefSort(spark)
        n_warm = warm_passes(wl, args.seconds)
        t_window, cpu0 = time.perf_counter(), stats.cpu_times()
        for p in range(1 + n_warm):
            got, c = run_pass(wl, spark, p, args.seed, tracer, ref)
            samples += got
            cached = max(cached, c)
        window_s = time.perf_counter() - t_window
        window_cpu = stats.cpu_shares(cpu0, stats.cpu_times())
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss_mb = (stats.vm_hwm_kb(jvm_pid) + stats.vm_hwm_kb()) / 1024
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()

    failed = [s for s in samples if s["error"]]
    speed = REF_SORT_S / min(ref.times)
    metrics, extra = end_to_end(samples, setup_s, rss_mb, speed)
    metrics["failed_frac"] = (len(failed) / max(1, len(samples)), "frac")
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "box": box,
        "inputs": info, "gen_s": round(gen_s, 3), "import_s": round(import_s, 3),
        "session_launches_s": [round(x, 3) for x in launches],
        "warm_up_s": round(warm_up_s, 3), "oracle_s": round(oracle_s, 3),
        "window_s": round(window_s, 3), "window_cpu": window_cpu,
        "passes": 1 + n_warm, "cached_bytes": cached,
        "ref_sort_s": [round(x, 4) for x in ref.times], "speed_scale": round(speed, 4),
        "failures": [f"pass {s['pass']} {s['op']}: {s['error']}" for s in failed[:10]],
        **extra,
    }
    report["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    if trace:
        warm_ids = {s["pass"] for s in samples if s["pass"] > 0}
        log_dir = os.path.join(scratch, "eventlog")
        names = [n for n in os.listdir(log_dir) if n.startswith(app_id)]
        if len(names) != 1:
            raise RuntimeError(f"event log for {app_id} not found: {os.listdir(log_dir)}")
        totals, per_op_ev = eventlog.parse(os.path.join(log_dir, names[0]), warm_ids)
        layers, breakdown = per_layer(samples, totals, per_op_ev, tracer, launches,
                                      cached, cores)
        report["conf_leak_keys"] = sorted(tracer.leaks)
        report["per_op"] = breakdown
        report["layers"] = layers
        metrics = {k: (layers[k], unit_of(k)) for k in PER_LAYER}
    else:
        metrics = {k: metrics[k] for k in END_TO_END}
    result = {
        "correct": not failed,
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return report, result


def _stop_jvm() -> None:
    """End the gateway JVM (and the Python workers it spawned) and wait."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    try:
        report, result = run(args, scratch)
    except Exception as e:  # noqa: BLE001 — report and exit non-zero, no result line
        traceback.print_exc()
        print(f"perfbench: run failed: {type(e).__name__}: {e}", file=sys.stderr)
        return 2
    finally:
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
