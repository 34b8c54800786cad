"""Workload ``invoices``: the paper's hypercube job and the ETL's ingest.

``cube`` is what the CLI does: CSV dimensions + the 16-byte binary fact
file -> ``reference_hypercube`` -> the reference-format sorted CSV.
``ingest`` is the load step: the binary file -> parquet partitioned by
``time``. Both read the same bytes; ``ingest`` does no aggregation, so
a change to the decoder or the parquet writer shows there and not on
``cube``.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.dataset as pds

import gen
from ops import Op, Step, expect, noop

# The CLI's binary split size (its -s default).
CLI_SPLIT_BYTES = 16 * 1024 * 1024

# The reference's own single-level query: two inner joins and
# COUNT(DISTINCT ...), not the engine's three-level rewrite.
REFERENCE_SQL = """
SELECT geo, type, misc, nature, time,
       SUM(consumption) AS consumption, SUM(amount) AS amount,
       COUNT(DISTINCT clients.id) AS nclients,
       COUNT(DISTINCT contracts.id) AS ncontrats,
       COUNT(*) AS ninvoices
FROM invoices
JOIN contracts ON invoices.id_contract = contracts.id
JOIN clients ON contracts.id_client = clients.id
GROUP BY geo, type, misc, nature, time
ORDER BY geo, type, misc, nature, time
"""

CUBE_COLS = ["geo", "type", "misc", "nature", "time", "consumption",
             "amount", "nclients", "ncontrats", "ninvoices"]


def _expected_cube(data: str, rec: np.ndarray) -> dict[str, np.ndarray]:
    inv = pa.table(
        {
            "id_contract": rec["id_contract"].astype(np.int32),
            "time": rec["time"].astype(np.int32),
            "amount": rec["amount"].astype(np.float64),
            "consumption": rec["consumption"].astype(np.int64),
        }
    )
    con = duckdb.connect()
    try:
        con.register("invoices", inv)
        con.execute(f"CREATE VIEW clients AS SELECT * FROM read_csv('{data}/clients.csv', header=true)")
        con.execute(f"CREATE VIEW contracts AS SELECT * FROM read_csv('{data}/contracts.csv', header=true)")
        t = con.execute(REFERENCE_SQL).arrow()
    finally:
        con.close()
    if isinstance(t, pa.RecordBatchReader):
        t = t.read_all()
    return {c: t.column(c).to_numpy() for c in CUBE_COLS}


def _check_cube(path: str, want: dict[str, np.ndarray]) -> None:
    types = {c: pa.int64() for c in CUBE_COLS}
    types["amount"] = pa.float64()
    got = pcsv.read_csv(path, convert_options=pcsv.ConvertOptions(column_types=types))
    expect(got.column_names == CUBE_COLS, f"cube header {got.column_names}")
    expect(got.num_rows == len(want["geo"]), f"cube rows {got.num_rows} != {len(want['geo'])}")
    g = {c: got.column(c).to_numpy() for c in CUBE_COLS}
    keys = np.column_stack([g[c] for c in CUBE_COLS[:5]])
    if len(keys) > 1:
        d = np.diff(keys, axis=0)
        # first nonzero difference of each adjacent pair must be > 0
        first = d[np.arange(len(d)), np.argmax(d != 0, axis=1)]
        expect(bool((first > 0).all()), "cube rows not in strictly ascending dim order")
    for c in CUBE_COLS:
        # integers exactly; amount exactly too: quarter sums are exact
        expect(np.array_equal(g[c], want[c]), f"cube column {c} differs")


class Invoices:
    name = "invoices"

    def __init__(self, work: str, out: str, seed: int):
        """Inputs are generated (or found) under ``work``; outputs go to ``out``."""
        self.data = gen.invoices(work, seed)
        self.manifest = gen.load_manifest(self.data)
        rec = gen.read_invoices(self.data)
        self.n_invoices = len(rec)
        self.want_cube = _expected_cube(self.data, rec)
        t = rec["time"].astype(np.int64)
        self.want_ingest = {
            "n": np.bincount(t, minlength=37),
            "consumption": np.bincount(t, rec["consumption"].astype(np.float64), 37),
            "amount": np.bincount(t, rec["amount"].astype(np.float64), 37),
            "id": np.bincount(t, rec["id"].astype(np.float64), 37),
        }
        self.out = os.path.join(out, "invoices")
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def detail(self) -> dict:
        return {"hypercube.lvl1_groups": self.lvl1_groups}

    def prepare(self, spark, n_slots: int) -> None:
        self.cli_partitions = str(4 * n_slots)
        # lvl1 (contract, time) group count, for the trace: numpy
        rec = gen.read_invoices(self.data)
        self.lvl1_groups = int(
            np.unique(rec["id_contract"].astype(np.int64) * 64 + rec["time"]).size
        )

    def ops(self, spark) -> list[Op]:
        from implementation_of_an_etl_process_spark.operators import (
            reference_hypercube,
        )
        from implementation_of_an_etl_process_spark.sources import (
            read_clients,
            read_contracts,
            read_invoices_bin,
        )
        from implementation_of_an_etl_process_spark.sources.sinks import (
            write_partitioned_parquet,
            write_reference_csv,
        )

        def cli(fn):
            """Run ``fn`` with the CLI's shuffle partitions (4 x slots)."""
            def run():
                old = spark.conf.get("spark.sql.shuffle.partitions")
                spark.conf.set("spark.sql.shuffle.partitions", self.cli_partitions)
                try:
                    return fn()
                finally:
                    spark.conf.set("spark.sql.shuffle.partitions", old)
            return run

        d = self.data
        bin_path = os.path.join(d, "invoices.bin")
        bin_bytes = os.path.getsize(bin_path)
        csv_path = os.path.join(self.out, "hypercube.csv")
        pq_path = os.path.join(self.out, "invoices_by_time")
        n_dims = self.manifest["clients"] + self.manifest["contracts"]

        def dims():
            return (read_clients(spark, f"{d}/clients.csv"),
                    read_contracts(spark, f"{d}/contracts.csv"))

        def facts(**kw):
            return read_invoices_bin(spark, bin_path, **kw)

        def cube():
            clients, contracts = dims()
            return reference_hypercube(
                clients, contracts, facts(split_bytes=CLI_SPLIT_BYTES, keep_id=False)
            )

        def scan_dims():
            clients, contracts = dims()
            noop(clients)
            noop(contracts)

        cube_op = Op(
            "cube",
            "read",
            [
                Step("sources.csv_dims_s", "sources", scan_dims, rows=n_dims),
                Step("sources.bin_decode_s", "sources",
                     lambda: noop(facts(split_bytes=CLI_SPLIT_BYTES, keep_id=False)),
                     rows=self.n_invoices),
                Step("hypercube.cube_s", "operators", cli(lambda: noop(cube())),
                     base=["sources.csv_dims_s", "sources.bin_decode_s"]),
                Step("sinks.csv_write_s", "sinks",
                     cli(lambda: write_reference_csv(cube(), csv_path)),
                     base=["hypercube.cube_s"]),
            ],
            lambda path: _check_cube(path, self.want_cube),
            read_bytes=bin_bytes,
        )
        ingest_op = Op(
            "ingest",
            "write",
            [
                Step("sources.ingest_decode_s", "sources", lambda: noop(facts()),
                     rows=self.n_invoices),
                Step("sinks.parquet_write_s", "sinks",
                     lambda: write_partitioned_parquet(facts(), pq_path, ["time"]),
                     base=["sources.ingest_decode_s"]),
            ],
            lambda path: self._check_ingest(path, bin_bytes),
            read_bytes=bin_bytes,
        )
        return [cube_op, ingest_op]

    def _check_ingest(self, path: str, bin_bytes: int) -> None:
        t = pds.dataset(path, format="parquet", partitioning="hive").to_table()
        expect(t.num_rows == bin_bytes // 16, f"ingest rows {t.num_rows} != {bin_bytes // 16}")
        time_ = t.column("time").to_numpy().astype(np.int64)
        w = self.want_ingest
        expect(np.array_equal(np.bincount(time_, minlength=37), w["n"]), "ingest per-time counts differ")
        for c in ("consumption", "amount", "id"):
            got = np.bincount(time_, t.column(c).to_numpy().astype(np.float64), 37)
            expect(np.array_equal(got, w[c]), f"ingest per-time sum of {c} differs")
