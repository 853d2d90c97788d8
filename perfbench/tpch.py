"""``tpch_analytics``: the registry's relational headline queries over plain
parquet, in repeated passes whose query order the seed permutes. No commit
log, no maintenance, no Python boundary: planning, joins and exchanges
carry the time."""

from __future__ import annotations

import os
import random

import duckdb

from perfbench.harness import Recorder, canon_rows
from perfbench.inputs import write_tpch

SF = 0.01
QUERIES = {
    "q1": "q1_pricing_summary",
    "q3": "q3_top_unshipped_orders",
    "q5": "q5_revenue_by_nation",
    "q9": "q9_product_type_profit",
    "q21": "q21_suppliers_kept_orders_waiting",
    "window_topk_per_group": "window_topk_per_group",
    "events_tumbling_window": "events_tumbling_window",
}


class Tpch:
    name = "tpch_analytics"
    cycle_s = 2.5

    def __init__(self, spark, rec: Recorder, work: str, seed: int):
        from delta_lake_optimizations_spark import registry

        self.spark, self.rec, self.seed = spark, rec, seed
        reg = registry.registry()
        self.defs = {short: reg[full] for short, full in QUERIES.items()}
        self.order = list(QUERIES)
        self.last: dict[str, tuple[list[str], list]] = {}
        self.sf_dir = ""
        self.counters: dict[str, list[float]] = {}

    def build_inputs(self, dst: str) -> None:
        write_tpch(dst, self.seed, SF)
        self.sf_dir = dst

    def prepare(self) -> None:
        """Warm-up: the JIT needs about three passes to settle."""
        for i in (-2, -1):
            self.cycle(i)

    def cycle(self, i: int) -> None:
        random.Random(self.seed * 1009 + i).shuffle(self.order)
        for q in self.order:
            self.rec.op("query", q, self._run, q)

    def _run(self, q: str) -> None:
        df = self.rec.span(f"queries.{q}.build", self.defs[q].fn, self.spark, self.sf_dir)
        rows = self.rec.span(f"queries.{q}.exec", df.collect)
        self.last[q] = (df.columns, rows)

    def after(self) -> dict:
        """Each query's last result hash-matches its registry DuckDB oracle."""
        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.sf_dir, t)}.parquet')")
            for q, (cols, rows) in self.last.items():
                rel = con.execute(self.defs[q].oracle)
                want = canon_rows([d[0] for d in rel.description], rel.fetchall())
                self.rec.check(f"oracle {q}", lambda: hash(tuple(canon_rows(cols, rows))), hash(tuple(want)))
        finally:
            con.close()
        return {}
