"""``flights_refresh``: one ``run_medallion`` call with the program's
defaults (serial gold, default date range, environment ``dev``), the
call ``python -m unicargo_medallion_data_pipeline_spark`` makes, on
a seed-keyed flights CSV plus dirty airline/airport CSVs, into an empty
warehouse."""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import pyarrow.dataset as ds

from datagen import FlightsManifest, tree_bytes, write_flights_inputs
from spans import MB, EventLog, Tracer, median_or_zero

ROWS = 30_000
LAYERS = ("bronze", "silver", "gold")
GOLD_TABLES = (
    "route_traffic", "top_routes", "airline_operational_summary",
    "daily_flight_summary", "weekly_flight_summary", "monthly_flight_trends",
    "airline_scorecard", "airline_day_of_week", "significant_routes",
    "busiest_routes", "airport_traffic", "seasonal_flight_summary",
    "weekend_weekday_split", "quarterly_flight_summary", "delay_distribution",
    "flight_efficiency", "aircraft_utilization", "rolling_on_time_performance",
    "flight_number_performance", "distance_bucket_stats",
)
#: gold tables whose flight counts must add up to the fact's rows
_COUNTED = {
    "airline_operational_summary": "total_flights",
    "daily_flight_summary": "total_flights",
    "route_traffic": "total_flights",
    "distance_bucket_stats": "total_flights",
}


def _files(path: str) -> list[str]:
    out = []
    for root, _, names in os.walk(path):
        out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return out


def _rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


class FlightsRefresh:
    name = "flights_refresh"
    root = "refresh"
    layers = LAYERS

    def __init__(self, work: str) -> None:
        self.work = work
        self.warehouse = os.path.join(work, "warehouse")
        self.inputs = os.path.join(work, "inputs")
        self.manifest: FlightsManifest | None = None
        self.gold_hash = ""
        self.gold_table_s: dict[str, list[float]] = {t: [] for t in GOLD_TABLES}

    def make_inputs(self, seed: int) -> None:
        self.manifest = write_flights_inputs(seed, self.inputs, ROWS)

    def warm_up(self, spark) -> None:
        """A typed CSV scan, a shuffle and a parquet write: the generic
        Spark paths every layer of the refresh compiles on first use."""
        from unicargo_medallion_data_pipeline_spark.schemas.flights import FLIGHTS_SCHEMA

        df = spark.read.schema(FLIGHTS_SCHEMA).option("header", True).csv(
            os.path.join(self.inputs, "flights.csv")
        )
        df.groupBy("airline").count().write.mode("overwrite").parquet(
            os.path.join(self.work, "warm_up")
        )

    def prepare(self, spark) -> None:
        pass

    def _db(self, layer: str) -> str:
        return os.path.join(self.warehouse, f"dev_{layer}.db")

    def _check(self, result) -> str:
        """Why the refresh's outputs are wrong, or ``""``.  All gold
        tables are written; every CSV line is either a bronze row or
        quarantined, and exactly the malformed lines are quarantined;
        silver keeps exactly the rows its cleansing rules admit; gold
        flight counts add up to the fact."""
        m = self.manifest
        if sorted(result.gold) != sorted(GOLD_TABLES):
            return f"gold tables {sorted(result.gold)}"
        missing = [t for t in GOLD_TABLES if not _files(os.path.join(self._db("gold"), t))]
        if missing:
            return f"no files for gold tables {missing}"
        bronze = _rows(os.path.join(self._db("bronze"), "flights_raw"))
        quarantined = _rows(os.path.join(self._db("bronze"), "flights_raw_quarantine"))
        fact = _rows(os.path.join(self._db("silver"), "fact_flight"))
        if bronze + quarantined != m.csv_rows or quarantined != m.malformed_rows:
            return f"bronze {bronze} + quarantined {quarantined} for {m.csv_rows} lines"
        if fact != m.fact_rows:
            return f"fact rows {fact}, expected {m.fact_rows}"
        h = hashlib.sha256()
        for t in GOLD_TABLES:
            table = ds.dataset(os.path.join(self._db("gold"), t), format="parquet").to_table()
            if t in _COUNTED and sum(v or 0 for v in table[_COUNTED[t]].to_pylist()) != fact:
                return f"{t}.{_COUNTED[t]} does not add up to {fact}"
            cols = sorted(table.column_names)
            rows = sorted(repr(r) for r in table.select(cols).to_pylist())
            h.update(repr((t, cols, rows)).encode())
        self.gold_hash = h.hexdigest()
        return ""

    def run_round(self, spark, tracer: Tracer, rnd: int, seed: int) -> list[tuple[str, float, bool]]:
        """One refresh into an empty warehouse."""
        from unicargo_medallion_data_pipeline_spark.pipelines.medallion import run_medallion

        if rnd:
            for layer in LAYERS:
                spark.sql(f"DROP DATABASE IF EXISTS dev_{layer} CASCADE")
        paths = {
            "flights": os.path.join(self.inputs, "flights.csv"),
            "airlines": os.path.join(self.inputs, "airlines.csv"),
            "airports": os.path.join(self.inputs, "airports.csv"),
        }
        timings: dict = {}
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            result = run_medallion(spark, paths, timings=timings)
        except Exception:  # a failed refresh is counted, and the run goes on
            traceback.print_exc()
            return [(self.root, time.perf_counter() - t0, False)]
        sec = time.perf_counter() - t0
        tracer.add(self.root, rnd, w0, w0 + sec)
        start = w0
        for layer in LAYERS:
            tracer.add(layer, rnd, start, start + timings[layer])
            start += timings[layer]
        for t, s in timings["gold_tables"].items():
            self.gold_table_s[t].append(s)
        problem = self._check(result)
        if problem:
            print(f"flights_refresh check failed: {problem}", file=sys.stderr)
        return [(self.root, sec, not problem)]

    def bytes_written(self) -> int:
        return tree_bytes(self.warehouse)

    def input_bytes(self) -> int:
        return self.manifest.input_bytes

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        """Per-layer seconds (medians over refreshes) and the on-disk
        result of the last refresh."""
        out: dict[str, float] = {}
        for layer in LAYERS:
            out[f"{layer}.s"] = median_or_zero(s.seconds for s in tracer.select(layer))
            files = _files(self._db(layer))
            out[f"{layer}.files"] = float(len(files))
            out[f"{layer}.mb_written"] = sum(os.path.getsize(f) for f in files) / MB
        for t, secs in self.gold_table_s.items():
            out[f"gold.{t}.s"] = median_or_zero(secs)
        return out

    def traced_metrics(self, tracer: Tracer, log: EventLog) -> dict[str, float]:
        """Spark work per layer, per refresh."""
        out: dict[str, float] = {}
        n = max(len(tracer.select(self.root)), 1)
        for layer in LAYERS:
            stats = log.within(tracer.select(layer))
            for k in ("jobs", "tasks", "shuffle_write_mb", "spill_mb"):
                out[f"{layer}.{k}"] = stats[k] / n
            out[f"{layer}.task_skew"] = stats["task_skew"]
        return out

    def evidence(self) -> dict:
        return {"gold_hash": self.gold_hash}
