"""The ``catalog`` workload: the 14 headline queries, one after another.

The tables are the package's sf0.01 test tables, bundled under
``data/sf0.01`` so the benchmark reads nothing outside its checkout.
An operation is one query, timed until its result is collected to the
client. Each result is compared cell-exact with its DuckDB oracle
outside the timed region.

The queries run in one fixed order and the seed selects nothing. A pass
is the first on its JVM, and first-use costs shared between queries
land on whichever queries run first: with a seed-permuted order the
median query latency of a run varied by up to 2x between seeds.
"""

from __future__ import annotations

import os
import time

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class Catalog:
    name = "catalog"

    def __init__(self, ctx):
        from cometbft_log_etl_spark.queries import headline_queries

        self.ctx = ctx
        self.queries = headline_queries()
        self.order = sorted(self.queries)
        self.results: dict[str, object] = {}
        self._oracle: dict[str, object] = {}

    def describe(self) -> str:
        return f"{len(self.order)} headline queries on data/sf0.01, order {self.order}"

    def _run(self, name: str):
        from cometbft_log_etl_spark.session import persistent_rdd_ids, release_new_persists

        spark = self.ctx.spark
        before = persistent_rdd_ids(spark)
        try:
            return self.queries[name].fn(spark, DATA).toPandas()
        finally:
            self.ctx.leaked += release_new_persists(spark, before)

    def run_pass(self, tag: str) -> tuple[float, list[float]]:
        ops = []
        t0 = time.perf_counter()
        for name in self.order:
            t = time.perf_counter()
            self.results[name] = self._run(name)
            ops.append(time.perf_counter() - t)
        return time.perf_counter() - t0, ops

    def run_traced_pass(self, tag: str) -> None:
        for name in self.order:
            with self.ctx.layer("queries", f"queries.{name}"):
                self.results[name] = self._run(name)

    def check(self, tag: str) -> list[tuple[str, bool, str]]:
        from cometbft_log_etl_spark.testing.compare import compare_frames, duckdb_connection

        if not self._oracle:
            con = duckdb_connection(DATA)
            try:
                self._oracle = {n: con.execute(self.queries[n].oracle).fetchdf() for n in self.order}
            finally:
                con.close()
        out = []
        for name in self.order:
            r = compare_frames(name, self.results[name], self._oracle[name])
            out.append((f"oracle.{name}", r.ok, "; ".join(r.errors[:2])))
        return out

    def layer_metrics(self, tag: str) -> dict[str, float]:
        m: dict[str, float] = {}
        for name in self.order:
            m[f"queries.{name}_s"] = self.ctx.tracer.find(f"queries.{name}").dur
            m[f"queries.{name}_rows"] = len(self.results[name])
        return m
