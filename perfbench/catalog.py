"""``catalog``: every ``bench=True`` catalog query executed once per
round, in a seed-permuted order, on the synthetic test tables committed
under ``perfbench/testdata/`` (the TPC-H-like star schema plus events,
documents and embeddings) and the repository's committed flight
fixture.  Each query's full result is collected (what a user receives)
and compared with the DuckDB oracle outside the timed span."""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback

from datagen import tree_bytes
from spans import EventLog, Tracer, median_or_zero

#: the tables the queries read; the seed only permutes the query order
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.01")
LAYERS = ("plans.build", "plans.optimize", "exec.collect")


def bench_queries() -> dict:
    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG

    return {n: q for n, q in CATALOG.items() if q.bench}


class Catalog:
    name = "catalog"
    root = "query"
    layers = LAYERS

    def __init__(self, work: str) -> None:
        self.work = work
        self.sf_dir = os.path.join(work, "inputs", "sf")
        self.input_size = 0
        self.expected: dict[str, tuple[list[str], dict[str, str], str]] = {}
        self.census: dict[str, int] = {}
        self.with_census = False
        self.rounds = 0

    def make_inputs(self, seed: int) -> None:
        """Stage a copy of the tables, so that nothing a query writes
        next to them lands in the checkout."""
        shutil.copytree(DATA, self.sf_dir)
        from unicargo_medallion_data_pipeline_spark.sources.flights_fixture import FIXTURE_DIR

        self.input_size = tree_bytes(self.sf_dir) + tree_bytes(FIXTURE_DIR)

    def warm_up(self, spark) -> None:
        spark.read.parquet(os.path.join(self.sf_dir, "nation.parquet")).count()

    def prepare(self, spark) -> None:
        """The oracle side of every check: DuckDB's column names, type
        classes and result hash per query, computed once."""
        from unicargo_medallion_data_pipeline_spark import oracle

        con = oracle.duckdb_connection(self.sf_dir)
        try:
            for name, q in bench_queries().items():
                res = con.execute(q.sql)
                cols = [d[0] for d in res.description]
                rows = [dict(zip(cols, r)) for r in res.fetchall()]
                types = {c: oracle.duck_type_class(t) for c, t in zip(cols, con.sql(q.sql).types)}
                self.expected[name] = (sorted(cols), types, oracle.result_hash(cols, rows))
        finally:
            con.close()

    def _check(self, name: str, df, rows) -> str:
        """Why the result differs from the oracle's, or ``""``."""
        from unicargo_medallion_data_pipeline_spark import oracle

        cols, types, digest = self.expected[name]
        if sorted(df.columns) != cols:
            return f"columns {sorted(df.columns)}, oracle {cols}"
        spark_types = {f.name: oracle.spark_type_class(f.dataType) for f in df.schema.fields}
        if spark_types != types:
            return f"type classes {spark_types}, oracle {types}"
        if oracle.result_hash(df.columns, rows) != digest:
            return "result hash differs from the oracle's"
        return ""

    def run_round(self, spark, tracer: Tracer, rnd: int, seed: int) -> list[tuple[str, float, bool]]:
        """Each query once: build the DataFrame (``q.fn``), force its
        physical plan, collect every row."""
        self.rounds += 1
        queries = bench_queries()
        order = sorted(queries)
        random.Random(f"{seed}/{rnd}").shuffle(order)
        out = []
        for i, name in enumerate(order):
            op = rnd * len(order) + i
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                with tracer.span("plans.build", op, name):
                    df = queries[name].fn(spark, self.sf_dir)
                with tracer.span("plans.optimize", op, name):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("exec.collect", op, name):
                    rows = df.collect()
            except Exception:  # a failed query is counted, and the round goes on
                traceback.print_exc()
                out.append((name, time.perf_counter() - t0, False))
                continue
            sec = time.perf_counter() - t0
            tracer.add(self.root, op, w0, w0 + sec, name)
            problem = self._check(name, df, rows)
            if problem:
                print(f"catalog check failed for {name}: {problem}", file=sys.stderr)
            if self.with_census and name not in self.census:
                from unicargo_medallion_data_pipeline_spark.plans.inspect import plan_census

                self.census[name] = plan_census(df)["keyed_exchanges"]
            out.append((name, sec, not problem))
        return out

    def bytes_written(self) -> int:
        """Tables the queries stage: scratch dirs and the warehouse."""
        return sum(tree_bytes(os.path.join(self.work, d)) for d in ("tmp", "warehouse"))

    def input_bytes(self) -> int:
        return self.input_size

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        out = {
            f"query.{n}.s": median_or_zero(s.seconds for s in tracer.select(self.root, n))
            for n in bench_queries()
        }
        for layer in LAYERS:
            out[f"{layer}_s"] = sum(s.seconds for s in tracer.select(layer)) / self.rounds
        out["plans.keyed_exchanges"] = float(sum(self.census.values()))
        return out

    def traced_metrics(self, tracer: Tracer, log: EventLog) -> dict[str, float]:
        out = {}
        for n in bench_queries():
            out[f"query.{n}.jobs"] = log.within(tracer.select(self.root, n))["jobs"] / self.rounds
        stats = log.within(tracer.select(self.root))
        for k in ("jobs", "stages", "tasks", "shuffle_write_mb", "spill_mb"):
            out[f"exec.{k}"] = stats[k] / self.rounds
        out["exec.task_skew"] = stats["task_skew"]
        return out

    def evidence(self) -> dict:
        return {}
