"""The workloads: what one pass does, and how its outputs are
checked.

Every workload runs passes from one closed-loop client thread: the
next operation starts only when the previous one has returned. A pass
is *cold* when it starts with every piece of state the workload owns
reset (artifact store emptied, session memos released, lake directory
fresh) and *warm* when it starts from the state the previous cold pass
left. See README.md for why each workload exists.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import shutil
import time
from dataclasses import dataclass

import datagen

# Query lists are pinned here, not read from bench.py, so a change to
# bench.py's lists cannot silently change what this benchmark measures.
# README.md says which longer lists these are cut from, and why.
#
# Read-only queries: the store is never consulted, nothing is written.
READ_ONLY_QUERIES = (
    "gold_daily_join",
    "q3_top_revenue",
    "window_running_sum",
    "dedup_exact",
)
# Store-consulting queries: built and published on a cold pass, served
# from the store on a warm one.
STORE_QUERIES = ("embedding_pq_codes",)
# Input sizes. TABLE_SF scales the ten query tables (lineitem = 6M x sf,
# documents = 50k x sf; embeddings keep their 500-row floor); README.md
# says why it is below sf0.1. BACKFILL_DAYS is the medallion backfill
# span.
TABLE_SF = 0.02
BACKFILL_START = dt.date(2015, 1, 1)
BACKFILL_DAYS = 365


@dataclass
class Ctx:
    """What a workload needs from the run: the session, the tracer, a
    directory it owns, the query tables and the seed."""

    spark: object
    tracer: object
    work: str
    data_dir: str
    seed: int


class AnalyticQueries:
    """An analyst's session: the pinned queries in a seeded order, one
    op = one query, each result collected to the driver. Cold pass: an
    empty artifact store and released session memos, so the
    store-consulting queries build and publish their artifacts. Warm
    pass: memos released, store kept, so they are served. The
    read-only queries cost the same on both. The first pass is checked
    against the DuckDB oracles, every later pass against the first."""

    queries = READ_ONLY_QUERIES + STORE_QUERIES
    cycle = True  # wall_s unit: one cold+warm pair
    # Two pairs, so the steady metrics are medians over two passes each:
    # with one, a single short stall of the machine moved the run's
    # cold_pass_s, warm_pass_s and wall_s by up to half.
    min_pairs = 2

    def __init__(self, ctx: Ctx):
        from energy_data_pipeline_project_spark.operators import all_queries

        self.ctx = ctx
        self.fns = all_queries()
        self.first_rows: dict[str, list] = {}
        self.first_cols: dict[str, list[str]] = {}
        self.failures: list[str] = []
        self.store: str | None = None

    def run_op(self, idx: int, name: str):
        """Time one query: plan construction plus collection. Returns
        (seconds, rows); rows is None when the query failed."""
        from energy_data_pipeline_project_spark.operators._frames import (
            release_cached_frames,
        )

        ctx, tr = self.ctx, self.ctx.tracer
        sc = ctx.spark.sparkContext
        rows = None
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=f"{tr.unit}:{idx}:{name}"):
                if tr.enabled:
                    sc.setJobGroup(f"u{tr.unit}|{idx}|construct", name)
                with tr.span("operators.construct"):
                    df = self.fns[name](ctx.spark, ctx.data_dir)
                if tr.enabled:
                    sc.setJobGroup(f"u{tr.unit}|{idx}|exec", name)
                with tr.span("operators.exec"):
                    rows = [tuple(r) for r in df.collect()]
                self.first_cols.setdefault(name, df.columns)
        except Exception as e:  # a failed op is counted, not fatal
            self.failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
        elapsed = time.perf_counter() - t0
        with tr.span("operators._frames.release"):
            release_cached_frames()
        return elapsed, rows

    def take_serve_log(self) -> list[tuple[str, str]]:
        """Every (kind, "cold"|"warm") store outcome since the last call,
        including those the traced ``get_or_build`` already drained."""
        from energy_data_pipeline_project_spark.pipeline.artifacts import (
            drain_serve_log,
        )

        tr = self.ctx.tracer
        out, tr.served = tr.served + drain_serve_log(), []
        return out

    def reset_memos(self) -> None:
        from energy_data_pipeline_project_spark.operators._frames import (
            release_cached_frames,
        )
        from energy_data_pipeline_project_spark.operators.dedup import (
            release_shared_pairs,
        )
        from energy_data_pipeline_project_spark.operators.pq import (
            release_pq_memos,
        )

        release_cached_frames()
        release_shared_pairs()
        release_pq_memos()

    def run_pass(self, unit: int, cold: bool) -> dict:
        from energy_data_pipeline_project_spark.testing import canonical_rows

        if cold:
            if self.store:
                shutil.rmtree(self.store, ignore_errors=True)
            self.store = os.path.join(
                self.ctx.work, f"store-{time.monotonic_ns()}")
            os.environ["SPARK_GRAFT_ARTIFACTS"] = self.store
        self.reset_memos()
        self.take_serve_log()
        order = random.Random(f"{self.ctx.seed}:{unit}:{cold}").sample(
            self.queries, len(self.queries))
        ops, failed = [], 0
        t0 = time.perf_counter()
        for idx, name in enumerate(order):
            secs, rows = self.run_op(idx, name)
            ops.append(secs)
            if rows is None:
                failed += 1
            elif unit == 0:
                self.first_rows[name] = rows
            elif name not in self.first_rows or canonical_rows(
                self.first_cols[name], rows
            ) != canonical_rows(self.first_cols[name], self.first_rows[name]):
                failed += 1
                self.failures.append(f"{name}: output differs from the first pass")
        wall = time.perf_counter() - t0
        served = [s for _, s in self.take_serve_log()]
        if not cold and "cold" in served:
            failed += 1
            self.failures.append(f"unit {unit}: warm pass rebuilt an artifact")
        return {"wall": wall, "ops": ops, "names": order,
                "attempted": len(ops), "failed": failed, "served": served,
                "store_mb": _dir_mb(self.store) if cold else 0.0}

    def check(self) -> tuple[int, int]:
        """Check the first pass against the DuckDB oracles; returns
        (checked, wrong)."""
        from energy_data_pipeline_project_spark.operators import all_oracles
        from energy_data_pipeline_project_spark.testing import (
            canonical_rows,
            duck_connection,
        )

        oracles = all_oracles()
        con = duck_connection(self.ctx.data_dir)
        # duck_connection runs single-threaded to dodge a parallel-window
        # flake on NULL partition keys; the generated tables have none.
        con.execute(f"PRAGMA threads={os.environ['SPARK_GRAFT_CPUS']}")
        wrong = 0
        try:
            for name, rows in self.first_rows.items():
                res = con.execute(oracles[name])
                o_cols = [d[0] for d in res.description]
                s_cols = self.first_cols[name]
                if sorted(s_cols) != sorted(o_cols) or canonical_rows(
                    s_cols, rows
                ) != canonical_rows(o_cols, res.fetchall()):
                    wrong += 1
                    self.failures.append(f"{name}: differs from its oracle")
        finally:
            con.close()
        return len(self.first_rows), wrong


class MedallionBackfill:
    """``run_pipeline`` over a backfill of seeded payloads.
    Cold: a fresh lake directory. Warm: the same backfill re-run over
    the lake the cold pass wrote (every table overwritten in place).
    One op = one bronze ingest or one silver/gold table write."""

    cycle = False
    # One pair: medians of two backfills. Two pairs cost 8-10 s more a
    # run and were no steadier over two sets of ten runs.
    min_pairs = 1

    def __init__(self, ctx: Ctx):
        from energy_data_pipeline_project_spark.pipeline.config import (
            PipelineConfig,
            default_datasets,
        )
        from energy_data_pipeline_project_spark.sources.fixtures import (
            fixture_payloads,
        )

        self.ctx = ctx
        end = BACKFILL_START + dt.timedelta(days=BACKFILL_DAYS - 1)
        self.days = [
            (BACKFILL_START + dt.timedelta(days=i)).isoformat()
            for i in range(BACKFILL_DAYS)
        ]
        self.payloads = fixture_payloads(self.days, ctx.seed)
        self.expected = expected_medallion(self.payloads)
        self.config = lambda lake: PipelineConfig(
            lake_root=lake, start_date=self.days[0], end_date=end.isoformat(),
            datasets=default_datasets(),
        )
        self.lake: str | None = None
        self.failures: list[str] = []
        self.last_observed: dict = {}

    def reset(self) -> None:
        if self.lake:
            shutil.rmtree(self.lake, ignore_errors=True)
        self.lake = os.path.join(self.ctx.work, f"lake-{time.monotonic_ns()}")

    def run_pass(self, unit: int, cold: bool) -> dict:
        from energy_data_pipeline_project_spark.pipeline.runner import run_pipeline
        from energy_data_pipeline_project_spark.sources.payloads import (
            LocalJsonSource,
        )

        if cold:
            self.reset()
        tr, sc = self.ctx.tracer, self.ctx.spark.sparkContext
        source = LocalJsonSource(self.payloads)
        # layers.install times each bronze ingest and silver/gold write
        tr.op_times.clear()
        failed = 0
        t0 = time.perf_counter()
        try:
            if tr.enabled:
                sc.setJobGroup(f"u{tr.unit}|0|backfill", "backfill")
            with tr.span("pipeline.runner.run_pipeline", op=f"{unit}:0:backfill"):
                result = run_pipeline(self.ctx.spark, self.config(self.lake), source)
            wall = time.perf_counter() - t0
            self.last_observed = {k: dict(v) for k, v in result.observed.items()}
            problems = check_medallion(self.lake, result.observed, self.expected)
            if problems:
                failed = 1
                self.failures.extend(f"unit {unit}: {p}" for p in problems)
        except Exception as e:
            wall = time.perf_counter() - t0
            failed = 1
            self.failures.append(f"unit {unit}: {type(e).__name__}: {e}"[:300])
        out = {"wall": wall, "ops": list(tr.op_times), "attempted": 1,
               "failed": failed, "observed": self.last_observed}
        if tr.enabled:
            out["lake"] = lake_inventory(self.lake)
        return out

    def check(self) -> tuple[int, int]:
        return 0, 0  # every backfill is checked inside run_pass


def _dir_mb(path: str | None) -> float:
    total = 0
    for d, _, files in os.walk(path or ""):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def lake_inventory(lake: str) -> dict:
    """Data files and bytes under the lake, and bronze rows from the
    bronze parquet footers."""
    import pyarrow.parquet as pq

    files = bronze_files = bronze_rows = 0
    for d, _, names in os.walk(lake):
        for n in names:
            if n.startswith(("_", ".")) or not n.endswith(".parquet"):
                continue
            files += 1
            if f"{os.sep}bronze{os.sep}" in d + os.sep:
                bronze_files += 1
                bronze_rows += pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
    return {"files": files, "mb": _dir_mb(lake), "bronze_files": bronze_files,
            "bronze_rows": bronze_rows}


def expected_medallion(payloads: dict) -> dict:
    """Silver row counts and gold tables computed from the payloads in
    plain Python, independently of the engine."""
    power, price = payloads["public_power_de"], payloads["price_de_lu"]
    silver_power = raw_slots = 0
    by_type: dict[tuple[str, str], float] = {}
    for day, p in power.items():
        ts = p["unix_seconds"]
        for t in p["production_types"]:
            vals = t["data"]
            raw_slots += max(len(ts), len(vals))
            for i in range(min(len(ts), len(vals))):
                if ts[i] is None or vals[i] is None:
                    continue
                d = dt.datetime.fromtimestamp(ts[i], dt.timezone.utc).date()
                silver_power += 1
                key = (d.isoformat(), t["name"])
                by_type[key] = by_type.get(key, 0.0) + vals[i]
    silver_price = 0
    price_sum: dict[str, list[float]] = {}
    for day, p in price.items():
        ts = p["unix_seconds"]
        vals = next(p[f] for f in ("price", "prices", "data") if p.get(f))
        raw_slots += max(len(ts), len(vals))
        for t, v in zip(ts, vals):
            if t is None or v is None:
                continue
            d = dt.datetime.fromtimestamp(t, dt.timezone.utc).date().isoformat()
            silver_price += 1
            price_sum.setdefault(d, []).append(v)
    price_daily = {d: sum(v) / len(v) for d, v in price_sum.items()}
    offshore: dict[str, float] = {}
    for (d, name), v in by_type.items():
        if name.strip().lower() == "wind offshore":
            offshore[d] = offshore.get(d, 0.0) + v
    joined = {d: (v, price_daily[d]) for d, v in offshore.items() if d in price_daily}
    return {
        "silver/public_power_de": silver_power,
        "silver/price_de_lu": silver_price,
        "raw_slots": raw_slots,
        "power_daily_by_type": by_type,
        "price_daily": price_daily,
        "power_price_daily": joined,
    }


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def check_medallion(lake: str, observed: dict, exp: dict) -> list[str]:
    """Row counts the writes observed, and every gold value read back
    from the gold parquet files, against ``expected_medallion``."""
    import pyarrow.parquet as pq

    problems = []
    for key in ("silver/public_power_de", "silver/price_de_lu"):
        got = observed.get(key, {}).get("n_rows")
        if got != exp[key]:
            problems.append(f"{key}: {got} rows, expected {exp[key]}")

    def gold(name: str) -> list[dict]:
        return pq.read_table(os.path.join(lake, "gold", name)).to_pylist()

    rows = gold("power_daily_by_type")
    got = {(r["date"].isoformat(), r["production_type"]): r["daily_net_production"]
           for r in rows}
    want = exp["power_daily_by_type"]
    if len(rows) != len(want) or got.keys() != want.keys() or not all(
        _close(got[k], want[k]) for k in want
    ):
        problems.append("gold/power_daily_by_type values differ")
    rows = gold("price_daily")
    got = {r["date"].isoformat(): r["avg_price_eur_mwh"] for r in rows}
    want = exp["price_daily"]
    if len(rows) != len(want) or got.keys() != want.keys() or not all(
        _close(got[k], want[k]) for k in want
    ):
        problems.append("gold/price_daily values differ")
    rows = gold("power_price_daily")
    got = {r["date"].isoformat(): (r["offshore_wind_daily"], r["avg_price_eur_mwh"])
           for r in rows}
    want = exp["power_price_daily"]
    if len(rows) != len(want) or got.keys() != want.keys() or not all(
        _close(got[k][0], want[k][0]) and _close(got[k][1], want[k][1])
        for k in want
    ):
        problems.append("gold/power_price_daily values differ")
    return problems


WORKLOADS = {
    "analytic_queries": AnalyticQueries,
    "medallion_backfill": MedallionBackfill,
}


def write_inputs(work: str, seed: int) -> str:
    data_dir = os.path.join(work, "tables")
    datagen.write_tables(data_dir, seed, TABLE_SF)
    return data_dir
