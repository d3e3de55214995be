#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its metrics.

    python3 perfbench/run.py --workload analytic_queries --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, pins the Spark settings, sets the session up once in a
fresh JVM and rebuilds it three times, then measures: one first pass in
the fresh process, then cold/warm pass pairs until ``--seconds`` have
gone by and the workload's ``min_pairs`` are done. Outputs are checked
after the measured window. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A fuller record of the run goes to ``.perfbench/results/``. README.md
defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
REBUILDS = 3
# No further pair starts once a run has been going this long, so a
# slow stretch of a shared machine still leaves the run short: every
# run of a measured change has to fit one time budget.
RUN_CUTOFF_S = 60.0
DRIVER_MEMORY = "3g"
INITIAL_HEAP = "1g"
YOUNG_GEN = "512m"


def pin_settings(work: str) -> dict:
    """Environment every run uses; recorded with the result."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    pins = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_ARTIFACTS": os.path.join(work, "store"),
        # A 1g initial heap, a fixed young generation and a GC time
        # goal of 20% (GCTimeRatio=4; G1's default of 12 is about 8%)
        # keep peak_rss_mb steady: G1 grows the heap from its small
        # default, sizes the young generation from measured pause
        # times, and grows the heap whenever GC takes more than its
        # time goal, so on a busy machine each moved the peak between
        # runs. No perf-data file in /tmp.
        "SPARK_SUBMIT_OPTS": (f"-Djava.io.tmpdir={tmp} -Xms{INITIAL_HEAP}"
                              f" -Xmn{YOUNG_GEN} -XX:-UsePerfData"
                              " -XX:GCTimeRatio=4"),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    os.environ.update(pins)
    tempfile.tempdir = tmp
    return pins


def setup(data_dir: str, tracer):
    """Build the session and read every table's footer."""
    from energy_data_pipeline_project_spark.session import get_spark_session
    from energy_data_pipeline_project_spark.sources.tables import TABLES, load_table

    t0 = time.perf_counter()
    with tracer.span("session.build"):
        spark = get_spark_session(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("sources.tables.load"):
        for t in TABLES:
            load_table(spark, data_dir, t).schema
    return spark, time.perf_counter() - t0


def set_event_log(on: bool, log_dir: str) -> None:
    """Event logging is a context-level setting: set it as JVM system
    properties, which the next SparkConf picks up."""
    from pyspark import SparkContext

    props = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
             "spark.eventLog.compress": "false",
             "spark.eventLog.rolling.enabled": "false"}
    system = SparkContext._jvm.java.lang.System
    for k, v in props.items():
        system.setProperty(k, v) if on else system.clearProperty(k)


def measure(wl, seconds: float, run_t0: float, first: bool = True,
            units: int | None = None) -> dict:
    """The first pass (unless ``first`` is false), then cold/warm pairs
    until ``seconds`` have passed and the workload's ``min_pairs`` are
    done — or exactly ``units`` pairs."""
    t0 = time.perf_counter()
    wl.ctx.tracer.unit = "0c"
    out = {"first": wl.run_pass(0, cold=True) if first else None, "pairs": []}
    k = 1
    while True:
        pair = []
        for cold in (True, False):
            wl.ctx.tracer.unit = f"{k}{'c' if cold else 'w'}"
            pair.append(wl.run_pass(k, cold=cold))
        out["pairs"].append(tuple(pair))
        k += 1
        now = time.perf_counter()
        if units is not None:
            if len(out["pairs"]) >= units:
                break
        elif now - run_t0 >= RUN_CUTOFF_S or (
            now - t0 >= seconds and len(out["pairs"]) >= wl.min_pairs
        ):
            break
    wl.ctx.tracer.unit = None
    return out


def unit_walls(wl, m: dict) -> list[float]:
    if wl.cycle:
        return [c["wall"] + w["wall"] for c, w in m["pairs"]]
    return [p["wall"] for pair in m["pairs"] for p in pair]


def end_to_end(wl, m: dict, setups: list[float], import_s: float,
               rss_mb: float) -> dict:
    steady = [p for pair in m["pairs"] for p in pair]
    ops = [t for p in steady for t in p["ops"]]
    return {
        "setup_s": statistics.median(setups[1:]),
        "cold_setup_s": import_s + setups[0],
        "first_pass_s": m["first"]["wall"],
        "wall_s": statistics.median(unit_walls(wl, m)),
        "op_p50_s": statistics.median(ops),
        # interpolated: with 14 or 20 samples a nearest-rank p90 is one sample
        "op_p90_s": statistics.quantiles(ops, n=10, method="inclusive")[8],
        "cold_pass_s": statistics.median(c["wall"] for c, _ in m["pairs"]),
        "warm_pass_s": statistics.median(w["wall"] for _, w in m["pairs"]),
        "peak_rss_mb": rss_mb,
    }


UNITS = {
    "setup_s": "s", "cold_setup_s": "s", "first_pass_s": "s", "wall_s": "s",
    "op_p50_s": "s", "op_p90_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
    "peak_rss_mb": "MB",
}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def calibration(spark, work: str) -> dict:
    """Fixed-size CPU and write probes, so results from different
    machines can be read against each other."""
    t0 = time.perf_counter()
    spark.range(0, 200_000_000).selectExpr(
        "sum(xxhash64(id) % 1000000) AS s"
    ).collect()
    cpu = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, 2_000_000).selectExpr(
        "id", "xxhash64(id) AS a", "id * 2 AS b"
    ).write.mode("overwrite").parquet(os.path.join(work, "calib"))
    return {"cpu_hash_200m": cpu, "io_write_2m": time.perf_counter() - t0}


def stop_jvm() -> None:
    """End the JVM PySpark launched (it exits when its stdin closes) and
    wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    run_t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # Fails (non-zero exit, no result line) in a tree without the engine.
    # import_s is part of cold_setup_s: the engine loads PySpark lazily.
    t0 = time.perf_counter()
    import energy_data_pipeline_project_spark  # noqa: F401
    import pyspark.sql  # noqa: F401
    import_s = time.perf_counter() - t0
    import layers
    import workloads as W
    from spans import Tracer

    if args.workload not in W.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(W.WORKLOADS)}")
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=STATE)
    try:
        pins = pin_settings(work)
        record = run(args, W, layers, Tracer, work, run_t0, import_s)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    record["settings"] = pins
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(STATE, "results", name), "w") as f:
        json.dump(record, f, indent=1)
    for line in record["failures"][:20]:
        print("FAILED", line)
    print("summary", json.dumps({k: record[k] for k in (
        "workload", "seed", "error_rate", "op_samples", "steady_pairs",
        "calibration")}))
    print(json.dumps(record["result"]))
    return 0


def run(args, W, layers, Tracer, work: str, run_t0: float,
        import_s: float) -> dict:
    from energy_data_pipeline_project_spark.pipeline import artifacts
    from pyspark import SparkContext

    phases = {"start": time.perf_counter() - run_t0}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    data_dir = W.write_inputs(work, args.seed)
    # One tracer for the run: its wrappers stay in place from here on,
    # and record spans only once it is enabled for the traced half.
    tracer = Tracer(enabled=False)
    setups, spark = [], None
    for _ in range(1 + REBUILDS):
        if spark is not None:
            spark.stop()
        spark, secs = setup(data_dir, tracer)
        setups.append(secs)
    layers.install(tracer, artifacts)
    phase("inputs_and_setups")
    ctx = W.Ctx(spark, tracer, work, data_dir, args.seed)
    wl = W.WORKLOADS[args.workload](ctx)
    phase("workload_inputs")
    m = measure(wl, args.seconds, run_t0)
    # Peak memory before the checks: the DuckDB oracles run in this
    # process, and their memory is not the engine's.
    rss_parts = {"python": vm_hwm_mb(os.getpid()),
                 "jvm": vm_hwm_mb(SparkContext._gateway.proc.pid)}
    phase("measure")
    checked, wrong = wl.check()
    phase("check")
    attempted = sum(p["attempted"] for p in [m["first"]] + [
        q for pair in m["pairs"] for q in pair])
    failed = wrong + sum(p["failed"] for p in [m["first"]] + [
        q for pair in m["pairs"] for q in pair])
    calib = calibration(spark, work)
    phase("calibration")
    e2e = end_to_end(wl, m, setups, import_s, sum(rss_parts.values()))
    record = {
        "workload": args.workload, "seed": args.seed,
        "op_samples": sum(len(p["ops"]) for pair in m["pairs"] for p in pair),
        "steady_pairs": len(m["pairs"]), "checked_against_oracle": checked,
        "calibration": calib, "setups_s": setups, "end_to_end": e2e,
        "peak_rss_parts_mb": rss_parts,
        "passes": [{k: p[k] for k in ("wall", "ops", "names") if k in p}
                   for p in [m["first"]] + [q for pr in m["pairs"] for q in pr]],
        "failures": wl.failures,
    }
    metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    if args.trace:
        # The traced half: a fresh session with the event log on and
        # every layer wrapped, the same number of pairs as above.
        spark.stop()
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        set_event_log(True, log_dir)
        tracer.enabled = True
        spark, secs = setup(data_dir, tracer)
        ctx.spark = spark
        traced = measure(wl, 0, run_t0, first=False, units=len(m["pairs"]))
        spark.stop()
        set_event_log(False, log_dir)
        per_layer = layers.per_layer(wl, traced, tracer, log_dir, int(
            os.environ["SPARK_GRAFT_CPUS"]))
        per_layer["trace.overhead_ratio"] = (
            statistics.median(unit_walls(wl, traced))
            / statistics.median(unit_walls(wl, m)))
        metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                   for k, v in per_layer.items()}
        record["per_layer"] = per_layer
        tracer.dump(os.path.join(
            STATE, "results", f"spans-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed})
        failed += sum(p["failed"] for pair in traced["pairs"] for p in pair)
        attempted += sum(p["attempted"] for pair in traced["pairs"] for p in pair)
    else:
        spark.stop()
    tracer.restore()
    phase("traced_half" if args.trace else "stop")
    record["phases_s"] = phases
    record["error_rate"] = failed / attempted
    record["result"] = {"correct": failed == 0, "attempted": attempted,
                        "failed": failed, "metrics": metrics}
    return record


if __name__ == "__main__":
    sys.exit(main())
