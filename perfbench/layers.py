"""Per-layer metrics of the traced run.

``install`` wraps each layer's public functions where their callers look
them up, once per run; the wrappers record spans only while the tracer
is enabled, but always time the medallion's ops (each bronze ingest and
each silver/gold table write). ``pipeline.runner`` binds
``ingest_dataset``, ``extract_timeseries``, ``write_table_observed`` and
``read_table`` by name at import, ``pipeline.ingestion`` binds
``write_table`` the same way, and the gold functions and
``artifacts.get_or_build`` are reached through their module.
``per_layer`` folds the spans and the event log
into one value per metric: the median over the traced steady units
(one backfill on medallion_backfill; one cold+warm pair on
analytic_queries).
"""

from __future__ import annotations

import statistics

from spans import fold_event_log

import workloads as W

UNITS = {
    "session.build_s": "s",
    "sources.tables.load_s": "s",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.exec_s": "s",
    "operators.exec_jobs": "count",
    "operators._frames.release_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.slot_busy_frac": "fraction",
    "spark.task_skew": "ratio",
    "pipeline.artifacts.calls": "count",
    "pipeline.artifacts.cold_builds": "count",
    "pipeline.artifacts.warm_serves": "count",
    "pipeline.artifacts.warm_ratio": "fraction",
    "pipeline.artifacts.build_s": "s",
    "pipeline.artifacts.serve_s": "s",
    "pipeline.artifacts.store_mb": "MB",
    "pipeline.ingestion.bronze_s": "s",
    "pipeline.ingestion.bronze_rows": "count",
    "pipeline.ingestion.bronze_files": "count",
    "pipeline.silver.construct_s": "s",
    "pipeline.silver.write_s": "s",
    "pipeline.silver.rows": "count",
    "pipeline.silver.dropped_rows": "count",
    "pipeline.gold.construct_s": "s",
    "pipeline.gold.write_s": "s",
    "pipeline.gold.rows": "count",
    "pipeline.lake.write_s": "s",
    "pipeline.lake.read_s": "s",
    "pipeline.lake.files_written": "count",
    "pipeline.lake.mb_written": "MB",
    "trace.overhead_ratio": "ratio",
}

GOLD_FNS = ("power_daily_by_type", "price_daily", "power_price_daily")
GET_OR_BUILD = "pipeline.artifacts.get_or_build"
LAKE_WRITES = ("pipeline.lake.write_table", "pipeline.lake.write_table_observed")
MB = 2**20


def install(tracer, artifacts) -> None:
    from energy_data_pipeline_project_spark.pipeline import gold, ingestion, runner

    tracer.wrap(runner, "ingest_dataset", "pipeline.ingestion.ingest_dataset",
                op=True)
    tracer.wrap(runner, "extract_timeseries", "pipeline.silver.extract_timeseries")
    tracer.wrap(runner, "write_table_observed", LAKE_WRITES[1], path_arg=1,
                op=True)
    tracer.wrap(runner, "read_table", "pipeline.lake.read_table")
    tracer.wrap(ingestion, "write_table", LAKE_WRITES[0], path_arg=1)
    for fn in GOLD_FNS:
        tracer.wrap(gold, fn, f"pipeline.gold.{fn}")

    def served(rec: dict) -> None:
        entries = artifacts.drain_serve_log()
        tracer.served.extend(entries)
        rec["served"] = entries[-1][1] if entries else None

    tracer.wrap(artifacts, "get_or_build", GET_OR_BUILD, after=served)


def _in(layer: str):
    return lambda s: f"/{layer}/" in s.get("path", "")


def per_layer(wl, traced: dict, tracer, log_dir: str, cores: int) -> dict:
    groups = fold_event_log(log_dir)
    units = []  # (pass labels, wall, pass records) per wall_s unit
    for k, (cold, warm) in enumerate(traced["pairs"], start=1):
        if wl.cycle:
            units.append(([f"{k}c", f"{k}w"], cold["wall"] + warm["wall"],
                          [cold, warm]))
        else:
            units.append(([f"{k}c"], cold["wall"], [cold]))
            units.append(([f"{k}w"], warm["wall"], [warm]))

    rows = []
    for labels, wall, passes in units:
        def spans(name, where=None, outermost=False):
            return sum(tracer.total(lb, name, where, outermost) for lb in labels)

        def ev(key, phase=None):
            return sum(
                g.get(key, 0) for gid, g in groups.items()
                if any(gid.startswith(f"u{lb}|") for lb in labels)
                and (phase is None or gid.endswith(f"|{phase}"))
            )

        calls = [s for s in tracer.spans
                 if s["unit"] in labels and s["name"] == GET_OR_BUILD]
        cold_n = sum(s.get("served") == "cold" for s in calls)
        warm_n = sum(s.get("served") == "warm" for s in calls)
        lake = [p.get("lake", {}) for p in passes]
        observed = [p.get("observed", {}) for p in passes]
        silver_rows = sum(v.get("n_rows", 0) for o in observed
                          for k, v in o.items() if k.startswith("silver/"))
        run_s = ev("run_ms") / 1000
        rows.append({
            "operators.construct_s": spans("operators.construct"),
            "operators.construct_jobs": ev("jobs", "construct"),
            "operators.exec_s": spans("operators.exec"),
            "operators.exec_jobs": ev("jobs", "exec"),
            "operators._frames.release_s": spans("operators._frames.release"),
            "spark.stages": ev("stages"),
            "spark.tasks": ev("tasks"),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": ev("cpu_ns") / 1e9,
            "spark.gc_s": ev("gc_ms") / 1000,
            "spark.shuffle_write_mb": ev("shuffle_write_b") / MB,
            "spark.shuffle_read_mb": (ev("shuffle_remote_b")
                                      + ev("shuffle_local_b")) / MB,
            "spark.spill_mb": ev("spill_disk_b") / MB,
            "spark.input_mb": ev("input_b") / MB,
            "spark.slot_busy_frac": run_s / (wall * cores),
            "spark.task_skew": max(
                [g.get("task_skew", 0.0) for gid, g in groups.items()
                 if any(gid.startswith(f"u{lb}|") for lb in labels)] or [0.0]),
            "pipeline.artifacts.calls": len(calls),
            "pipeline.artifacts.cold_builds": cold_n,
            "pipeline.artifacts.warm_serves": warm_n,
            "pipeline.artifacts.warm_ratio": warm_n / len(calls) if calls else 0.0,
            "pipeline.artifacts.build_s": spans(
                GET_OR_BUILD, lambda s: s.get("served") == "cold", True),
            "pipeline.artifacts.serve_s": spans(
                GET_OR_BUILD, lambda s: s.get("served") == "warm", True),
            "pipeline.artifacts.store_mb": sum(p.get("store_mb", 0.0) for p in passes),
            "pipeline.ingestion.bronze_s": spans("pipeline.ingestion.ingest_dataset"),
            "pipeline.ingestion.bronze_rows": sum(x.get("bronze_rows", 0) for x in lake),
            "pipeline.ingestion.bronze_files": sum(x.get("bronze_files", 0) for x in lake),
            "pipeline.silver.construct_s": spans("pipeline.silver.extract_timeseries"),
            "pipeline.silver.write_s": spans(LAKE_WRITES[1], _in("silver")),
            "pipeline.silver.rows": silver_rows,
            "pipeline.silver.dropped_rows": (
                len(observed) * wl.expected["raw_slots"] - silver_rows
                if isinstance(wl, W.MedallionBackfill) else 0),
            "pipeline.gold.construct_s": sum(
                spans(f"pipeline.gold.{fn}") for fn in GOLD_FNS),
            "pipeline.gold.write_s": spans(LAKE_WRITES[1], _in("gold")),
            "pipeline.gold.rows": sum(v.get("n_rows", 0) for o in observed
                                      for k, v in o.items() if k.startswith("gold/")),
            "pipeline.lake.write_s": sum(spans(n) for n in LAKE_WRITES),
            "pipeline.lake.read_s": spans("pipeline.lake.read_table"),
            "pipeline.lake.files_written": sum(x.get("files", 0) for x in lake),
            "pipeline.lake.mb_written": sum(x.get("mb", 0.0) for x in lake),
        })
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    for name in ("session.build", "sources.tables.load"):
        out[f"{name}_s"] = statistics.median(
            [s["end"] - s["start"] for s in tracer.spans if s["name"] == name])
    return out
