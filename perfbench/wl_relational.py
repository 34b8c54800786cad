"""Workload ``relational``: short parquet queries from the battery.

Seven registry entries over a generated TPC-H-shaped star schema plus
an events table. Their time is planning, jobs and broadcast joins, and
the small-input branches of ``plans`` fire here (the tables sit under
the 64 MB latency gate and the 128 MB broadcast gate). Each result is
compared with DuckDB running the entry's own ``oracle_sql()``.

The write side is the ingest half of ``bucketed_join_orders``: the two
bucketed tables it joins, written with ``write_bucketed_table``.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.dataset as pds
import pyarrow.parquet as pq

import gen
from ops import Op, Step, expect, noop, normalize

QUERIES = {
    "hypercube": ("lineitem", "orders", "customer", "nation"),
    "q1_pricing_summary": ("lineitem",),
    "q3_top_orders": ("customer", "orders", "lineitem"),
    "q5_local_supplier": ("region", "nation", "customer", "orders", "lineitem", "supplier"),
    "window_topk_orders": ("orders",),
    "events_sessionize": ("events",),
    "bucketed_join_orders": ("orders", "lineitem"),
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
BUCKETED = {"pb_b_orders": "orders", "pb_b_lineitem": "lineitem"}


class Relational:
    name = "relational"

    def __init__(self, work: str, out: str, seed: int):
        """Inputs are generated (or found) under ``work``; outputs go to ``out``."""
        from implementation_of_an_etl_process_spark import queries as battery

        self.data = gen.tpch(work, seed)
        self.manifest = gen.load_manifest(self.data)
        oracles = battery.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
                )
            self.want = {}
            for q in QUERIES:
                cur = con.execute(oracles[q])
                cols = [c[0] for c in cur.description]
                self.want[q] = (sorted(cols), normalize(cur.fetchall(), cols))
            self.want_cents = con.execute(
                "SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) FROM lineitem"
            ).fetchone()[0]
        finally:
            con.close()
        self.rows = {t: pq.ParquetFile(f"{self.data}/{t}.parquet").metadata.num_rows for t in TABLES}

    def prepare(self, spark, n_slots: int) -> None:
        self.warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def detail(self) -> dict:
        return {}

    def ops(self, spark) -> list[Op]:
        from pyspark.sql import functions as F

        from implementation_of_an_etl_process_spark import queries as battery
        from implementation_of_an_etl_process_spark.sources.parquet import read_table
        from implementation_of_an_etl_process_spark.sources.sinks import (
            write_bucketed_table,
        )

        entries = battery.queries()
        out: list[Op] = []

        def scan(tables):
            def run():
                for t in tables:
                    noop(read_table(spark, self.data, t))
            return run

        def collect(q):
            def run():
                df = entries[q](spark, self.data)
                return df.columns, [tuple(r) for r in df.collect()]
            return run

        for q, tables in QUERIES.items():
            out.append(
                Op(
                    q,
                    "read",
                    [
                        Step(f"sources.{q}_scan_s", "sources", scan(tables),
                             rows=sum(self.rows[t] for t in tables)),
                        Step(f"queries.{q}_s", "operators", collect(q),
                             base=[f"sources.{q}_scan_s"]),
                    ],
                    self._checker(q),
                )
            )

        def bucketed():
            write_bucketed_table(
                read_table(spark, self.data, "orders").select("o_orderkey", "o_orderstatus"),
                "pb_b_orders", ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"],
            )
            write_bucketed_table(
                read_table(spark, self.data, "lineitem").select(
                    F.col("l_orderkey").alias("o_orderkey"),
                    F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
                ),
                "pb_b_lineitem", ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"],
            )
            return [os.path.join(self.warehouse, t) for t in BUCKETED]

        out.append(
            Op(
                "bucketed_write",
                "write",
                [
                    Step("sources.bucketed_scan_s", "sources", scan(("orders", "lineitem")),
                         rows=self.rows["orders"] + self.rows["lineitem"]),
                    Step("sinks.bucketed_write_s", "sinks", bucketed,
                         base=["sources.bucketed_scan_s"]),
                ],
                self._check_bucketed,
            )
        )
        return out

    def _checker(self, q):
        want_cols, want_rows = self.want[q]

        def check(result) -> None:
            cols, rows = result
            expect(sorted(cols) == want_cols, f"{q}: columns {sorted(cols)} != {want_cols}")
            expect(len(rows) == len(want_rows), f"{q}: rows {len(rows)} != {len(want_rows)}")
            expect(normalize(rows, cols) == want_rows, f"{q}: values differ from the oracle")

        return check

    def _check_bucketed(self, paths) -> None:
        o = pds.dataset(paths[0], format="parquet").to_table()
        li = pds.dataset(paths[1], format="parquet").to_table()
        expect(o.num_rows == self.rows["orders"], "bucketed orders row count")
        expect(li.num_rows == self.rows["lineitem"], "bucketed lineitem row count")
        expect(int(li.column("cents").to_numpy().sum()) == self.want_cents, "bucketed cents sum")
