"""``lakehouse_lifecycle``: the reference lab's table life on one GraftTable.

One cycle is one table life on a fresh root: ``N_APPENDS`` seeded sales
appends (reads cross the ``CHECKPOINT_INTERVAL`` boundary at v10), each followed by
reads that rotate over a selective ``skip_where`` scan, a point lookup and
a time-travel read at an older version; then MERGE, DELETE, OPTIMIZE with
Z-order, Bloom build, reads against the maintained layout, and VACUUM.
"""

from __future__ import annotations

import importlib
import os
import random
import shutil

import duckdb
from pyspark.sql import functions as F

from perfbench.harness import Recorder
from perfbench.inputs import dir_bytes

N_APPENDS = 12
ROWS_PER_APPEND = 2000
FILES_PER_APPEND = 2
MERGE_UPDATES = 300
MERGE_INSERTS = 200
READS_PER_APPEND = 1
DELETE_WHERE = "country = 'BR' AND status = 'cancelled'"
FLAGSHIP = [("country", "=", "US"), ("category", "=", "electronics")]
# columns compared against the DuckDB replay; price as integer cents
_CANON_SPARK = [
    "order_id", "customer_id", "quantity", "country", "category", "status",
    "CAST(ROUND(price * 100) AS BIGINT) AS cents", "unix_micros(order_ts) AS ts_us",
]
_CANON_DUCK = (
    "order_id, customer_id, quantity, country, category, status, "
    "CAST(ROUND(price * 100) AS BIGINT) AS cents, epoch_us(order_ts) AS ts_us"
)


class Lakehouse:
    name = "lakehouse_lifecycle"
    cycle_s = 6.0

    def __init__(self, spark, rec: Recorder, work: str, seed: int):
        from delta_lake_optimizations_spark import workshop
        from delta_lake_optimizations_spark.table import bloom, maintenance
        from delta_lake_optimizations_spark.table.graft_table import GraftTable

        self.spark, self.rec, self.work, self.seed = spark, rec, work, seed
        self.workshop, self.bloom, self.maintenance = workshop, bloom, maintenance
        self.merge = importlib.import_module("delta_lake_optimizations_spark.table.merge")
        self.GraftTable = GraftTable
        self.inputs = ""
        self.counters: dict[str, list[float]] = {}

    # -- setup -----------------------------------------------------------

    def build_inputs(self, dst: str) -> None:
        """Seeded ``generate_sales`` rows for every append (``_batch``
        partitions, ``FILES_PER_APPEND`` files each) and the MERGE source:
        ``MERGE_UPDATES`` existing ids set to 'returned' plus
        ``MERGE_INSERTS`` new ids."""
        n = N_APPENDS * ROWS_PER_APPEND
        sales = self.workshop.generate_sales(self.spark, n, FILES_PER_APPEND, seed=self.seed)
        sales.withColumn("_batch", (F.col("order_id") / ROWS_PER_APPEND).cast("int")).write.partitionBy(
            "_batch"
        ).parquet(os.path.join(dst, "sales"))
        src = self.workshop.generate_sales(self.spark, MERGE_UPDATES + MERGE_INSERTS, 1, seed=self.seed + 1)
        src.withColumn(
            "order_id",
            F.when(F.col("order_id") < MERGE_UPDATES, (F.col("order_id") * 131) % n).otherwise(n + F.col("order_id")),
        ).withColumn("status", F.lit("returned")).write.parquet(os.path.join(dst, "merge_src"))
        self.inputs = dst

    def _read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.inputs, name))

    def prepare(self) -> None:
        """Warm-up: one table life."""
        self.cycle(-1)

    # -- one cycle -------------------------------------------------------

    def cycle(self, i: int) -> None:
        rec, spark = self.rec, self.spark
        root = os.path.join(self.work, "tables", f"lake{i}")
        t = self.GraftTable(spark, root)
        rng = random.Random(self.seed)
        counts: dict[int, int] = {}
        scanned: list[tuple[int, int]] = []

        def committed(name: str) -> None:
            v = t.latest_version()
            rec.check(f"{name} count_rows", lambda: t.count_rows() == t.load().count())
            counts[v] = t.count_rows()

        def read(kind: str, preds=None, version=None) -> int:
            def run() -> int:
                if version is None:
                    rec.span("graft_table.snapshot_head", t.snapshot)
                else:
                    rec.span("graft_table.snapshot_tt", t.snapshot, version=version)
                df = rec.span("graft_table.load", t.load, version=version, skip_where=preds)
                return rec.span("graft_table.scan.exec", df.count)

            n = rec.op("query", f"read_{kind}", run)
            if version is not None:
                rec.check("time travel count", lambda: n, counts[version])
            elif rec.tracing:
                scanned.append((t.snapshot().num_files, t.files_scanned(preds)))
            return n

        for a in range(N_APPENDS):
            rec.op("commit", "append", rec.span, "graft_table.write", t.write, self._read(f"sales/_batch={a}"),
                   mode="append")
            committed("append")
            for r in range(READS_PER_APPEND):
                kind = (a * READS_PER_APPEND + r) % 3
                if kind == 0:
                    lo = rng.randrange(0, (a + 1) * ROWS_PER_APPEND - 500 + 1)
                    read("scan", [("order_id", ">=", lo), ("order_id", "<", lo + 500)])
                elif kind == 1:
                    read("lookup", [("customer_id", "=", rng.randrange(100_000))])
                else:
                    read("time_travel", version=rng.randrange(0, t.latest_version() + 1))

        c_merge = rec.op(
            "commit", "merge", rec.span, "merge.merge", self.merge.merge, t, self._read("merge_src"), on=["order_id"],
            when_matched_update={c: F.col(f"s_{c}") for c in ("status", "price", "total")},
        )
        committed("merge")
        c_delete = rec.op("commit", "delete", rec.span, "maintenance.delete", self.maintenance.delete, t, DELETE_WHERE)
        committed("delete")
        files_before = t.snapshot().num_files
        c_opt = rec.op(
            "maintenance", "optimize", rec.span, "maintenance.optimize", self.maintenance.optimize, t,
            zorder_by=["country", "category"], target_files=4,
        )
        committed("optimize")
        lookups = [[("customer_id", "=", rng.randrange(100_000))] for _ in range(2)]
        stats_only = [t.files_scanned(p) for p in lookups]
        rec.op("maintenance", "bloom_build", rec.span, "bloom.build", self.bloom.bloom_build, t, ["customer_id"])
        with_bloom = [t.files_scanned(p) for p in lookups]
        for p in lookups:
            read("lookup", p)
            read("flagship", FLAGSHIP)
        read("time_travel", version=rng.randrange(0, t.latest_version()))

        before_vacuum = dir_bytes(root)
        removed = rec.op(
            "maintenance", "vacuum", rec.span, "maintenance.vacuum", self.maintenance.vacuum, t, retain_hours=0
        )
        committed("vacuum")
        after = dir_bytes(root)
        rec.check("duckdb replay", lambda: self._replay_matches(t))

        if i < 0:
            shutil.rmtree(root, ignore_errors=True)
            return
        ingested = sum(v for p, v in dir_bytes(self.inputs).items() if p.endswith(".parquet"))
        written = sum(before_vacuum.values()) + sum(s for p, s in after.items() if p not in before_vacuum)
        commits = t.commits()
        log_bytes = sum(s for p, s in after.items() if p.startswith("_log"))
        live = t.snapshot().size_bytes
        c = self.counters
        for k, v in {
            "write_amp": written / ingested,
            "space_amp": sum(after.values()) / live,
            "graft_table.commits": len(commits),
            "graft_table.log_bytes": log_bytes,
            "graft_table.bytes_added": sum(a.size for cm in commits for a in cm.add),
            "maintenance.optimize_bytes_rewritten": sum(a.size for a in c_opt.add),
            "maintenance.files_before_optimize": files_before,
            "maintenance.files_after_optimize": len(c_opt.add),
            "maintenance.delete_files_rewritten": len(c_delete.remove),
            "maintenance.vacuum_files_removed": len(removed),
            "merge.files_rewritten": len(c_merge.remove),
            "bloom.files_pruned": (sum(stats_only) - sum(with_bloom)) / len(lookups),
        }.items():
            c.setdefault(k, []).append(v)
        if scanned:
            live_files = sum(a for a, _ in scanned) / len(scanned)
            hit = sum(b for _, b in scanned) / len(scanned)
            c.setdefault("graft_table.files_live", []).append(live_files)
            c.setdefault("graft_table.files_scanned", []).append(hit)
            c.setdefault("graft_table.skip_fraction", []).append(1 - hit / live_files)
        shutil.rmtree(root, ignore_errors=True)

    def _replay_matches(self, t) -> bool:
        """The table's live rows equal a DuckDB replay of the same appends,
        MERGE and DELETE over the same input files."""
        sales = os.path.join(self.inputs, "sales")
        batches = ", ".join(f"'{sales}/_batch={a}/*.parquet'" for a in range(N_APPENDS))
        src = f"read_parquet('{os.path.join(self.inputs, 'merge_src')}/*.parquet')"
        con = duckdb.connect()
        try:
            con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet([{batches}], hive_partitioning = false)")
            con.execute(
                f"UPDATE t SET status = s.status, price = s.price, total = s.total FROM {src} s "
                "WHERE t.order_id = s.order_id"
            )
            con.execute(f"INSERT INTO t SELECT * FROM {src} WHERE order_id NOT IN (SELECT order_id FROM t)")
            con.execute(f"DELETE FROM t WHERE {DELETE_WHERE}")
            want = con.execute(f"SELECT {_CANON_DUCK} FROM t ORDER BY order_id").fetchall()
        finally:
            con.close()
        got = [tuple(r) for r in t.load().selectExpr(*_CANON_SPARK).orderBy("order_id").collect()]
        return got == want

    def after(self) -> dict:
        return {}
