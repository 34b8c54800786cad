"""Seeded input generators for the benchmark.

Every input the engine sees is written here from ``--seed``: the same
seed and size give byte-identical files. Files are cached under
``<work>/data/<kind>-v<version>-s<seed>-<size>/`` and a ``_DONE`` marker is
written last, so an interrupted generation is redone, never reused.

Rebuild one input set (and its plant manifest) from the command line:

    python3 perfbench/gen.py --kind invoices --seed 7 --work .perfbench_work
    python3 perfbench/gen.py --kind tpch --seed 7 --work .perfbench_work
    python3 perfbench/gen.py --kind docs --seed 7 --work .perfbench_work
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- invoices: the paper's star schema --------------------------------------

# The paper's full set: 1M clients, 1.6M contracts, 57.6M invoices
# (36 invoices per contract, 1.6 contracts per client). The benchmark
# keeps those ratios and value domains and divides the row counts.
PAPER_CLIENTS = 1_000_000
PAPER_CONTRACTS = 1_600_000
PAPER_INVOICES = 57_600_000
INVOICES_DIVISOR = 40

#: 16-byte big-endian record of invoices.bin (the paper's layout).
INVOICE_DTYPE = np.dtype(
    [
        ("id", ">i4"),
        ("id_contract", ">i4"),
        ("time", "i1"),
        ("amount", ">f4"),
        ("consumption", ">i2"),
        ("pad", "V1"),
    ]
)

# --- tpch: the relational battery's tables ----------------------------------

TPCH_LINEITEM = 300_000
TPCH_ORDERS = 75_000
TPCH_CUSTOMERS = 7_500
TPCH_SUPPLIERS = 1_000
TPCH_PARTS = 20_000
TPCH_EVENTS = 50_000
TPCH_USERS = 1_500

# --- docs: the documents and embeddings corpus ------------------------------

DOCS_BASE = 2_000
DOCS_EXACT_GROUPS = 50  # planted exact-copy groups (2-4 copies each)
DOCS_NEAR_PAIRS = 50  # planted near-copies, shingle Jaccard ~0.85
NEAR_JACCARD = (0.82, 0.86)
EMB_N = 1_500
EMB_DIM = 64
EMB_CLUSTERS = 32
EMB_ANCHORS = 40  # planted vector neighbours: 3 per anchor
VOCAB = (
    "a the of and to in is for on with data spark query table column row "
    "join group sort scan filter hash window stream batch merge value key "
    "order part line customer fast slow big small agg vector index shard "
    "cache plan stage task node page block"
).split()
PHRASES_PRESENT = 15
PHRASES_ABSENT = 5


#: Bumped whenever a generator changes what it writes, so no cached
#: input of an older generator is reused.
GEN_VERSION = 2


def _cache_dir(work: str, kind: str, seed: int, size: str) -> str:
    return os.path.join(work, "data", f"{kind}-v{GEN_VERSION}-s{seed}-{size}")


def _fresh(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _start(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _finish(path: str, manifest: dict) -> None:
    with open(os.path.join(path, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    open(os.path.join(path, "_DONE"), "w").close()


def _write_parquet(path: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def invoices(work: str, seed: int, divisor: int = INVOICES_DIVISOR) -> str:
    """clients.csv, contracts.csv and invoices.bin in the paper's value
    domains: type [1,5], geo [1,578], misc [1,6], nature [1,5],
    time [1,36], consumption [0,32000). Amounts are quarters (k/4), so
    float32 holds them exactly and double sums of them are exact in any
    order: the cube's ``amount`` can be checked for equality."""
    out = _cache_dir(work, "invoices", seed, f"d{divisor}")
    if _fresh(out):
        return out
    _start(out)
    rng = np.random.default_rng([seed, 1])
    n_cl = PAPER_CLIENTS // divisor
    n_ct = PAPER_CONTRACTS // divisor
    n_inv = PAPER_INVOICES // divisor
    cl = np.column_stack(
        [
            np.arange(1, n_cl + 1),
            rng.integers(1, 6, n_cl),
            rng.integers(1, 579, n_cl),
            rng.integers(1, 7, n_cl),
        ]
    )
    with open(os.path.join(out, "clients.csv"), "w") as fh:
        fh.write("id,type,geo,misc\n")
        np.savetxt(fh, cl, fmt="%d", delimiter=",")
    ct = np.column_stack(
        [
            np.arange(1, n_ct + 1),
            rng.integers(1, n_cl + 1, n_ct),
            rng.integers(1, 6, n_ct),
            np.full(n_ct, 201410),
            np.full(n_ct, 201710),
        ]
    )
    with open(os.path.join(out, "contracts.csv"), "w") as fh:
        fh.write("id,id_client,nature,start,end\n")
        np.savetxt(fh, ct, fmt="%d", delimiter=",")
    rec = np.zeros(n_inv, dtype=INVOICE_DTYPE)
    rec["id"] = np.arange(1, n_inv + 1)
    rec["id_contract"] = rng.integers(1, n_ct + 1, n_inv)
    rec["time"] = rng.integers(1, 37, n_inv)
    rec["amount"] = rng.integers(4, 4_000 * 4, n_inv) / 4.0
    rec["consumption"] = rng.integers(0, 32_000, n_inv)
    rec.tofile(os.path.join(out, "invoices.bin"))
    _finish(
        out,
        {
            "seed": seed,
            "divisor": divisor,
            "clients": n_cl,
            "contracts": n_ct,
            "invoices": n_inv,
            "invoices_per_contract": n_inv / n_ct,
            "contracts_per_client": n_ct / n_cl,
        },
    )
    return out


def load_manifest(path: str) -> dict:
    with open(os.path.join(path, "manifest.json")) as fh:
        return json.load(fh)


def read_invoices(path: str) -> np.ndarray:
    """The generator's own decode of invoices.bin (numpy, no engine)."""
    return np.fromfile(os.path.join(path, "invoices.bin"), dtype=INVOICE_DTYPE)


def _ts(rng, n: int, lo: str, hi: str, unit: str = "D") -> np.ndarray:
    a = np.datetime64(lo, unit).astype(np.int64)
    b = np.datetime64(hi, unit).astype(np.int64)
    return rng.integers(a, b, n).astype(f"datetime64[{unit}]").astype("datetime64[us]")


def tpch(work: str, seed: int) -> str:
    """region, nation, customer, supplier, part, orders, lineitem and
    events with the column names and types of the battery's tables."""
    out = _cache_dir(work, "tpch", seed, f"l{TPCH_LINEITEM}")
    if _fresh(out):
        return out
    _start(out)
    rng = np.random.default_rng([seed, 2])
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write_parquet(out, "region", {"r_regionkey": i32(range(5)), "r_name": names})
    _write_parquet(
        out,
        "nation",
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        },
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    nc = TPCH_CUSTOMERS
    _write_parquet(
        out,
        "customer",
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
            "c_mktsegment": segs[rng.integers(0, 5, nc)],
        },
    )
    ns = TPCH_SUPPLIERS
    _write_parquet(
        out,
        "supplier",
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
        },
    )
    npart = TPCH_PARTS
    _write_parquet(
        out,
        "part",
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(npart)],
            "p_brand": [f"Brand#{i % 25 + 11}" for i in range(npart)],
            "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"])[
                rng.integers(0, 5, npart)
            ],
            "p_size": i32(rng.integers(1, 51, npart)),
            "p_retailprice": np.round(rng.uniform(900, 2100, npart), 2),
        },
    )
    no = TPCH_ORDERS
    _write_parquet(
        out,
        "orders",
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, no), 2),
            "o_orderdate": _ts(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, no)],
        },
    )
    nl = TPCH_LINEITEM
    _write_parquet(
        out,
        "lineitem",
        {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, npart, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts(rng, nl, "1995-01-02", "2001-11-05"),
        },
    )
    ne = TPCH_EVENTS
    ts = np.sort(_ts(rng, ne, "2024-01-01T00:00:00", "2024-01-31T00:00:00", "s"))
    ts = ts + rng.integers(0, 1_000_000, ne).astype("timedelta64[us]")
    _write_parquet(
        out,
        "events",
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, TPCH_USERS, ne),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, ne)
            ],
            "value": np.round(rng.uniform(0, 500, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        },
    )
    _finish(
        out,
        {
            "seed": seed,
            "lineitem": nl,
            "orders": no,
            "customer": nc,
            "supplier": ns,
            "part": npart,
            "events": ne,
            "users": TPCH_USERS,
        },
    )
    return out


def shingles(text: str, k: int = 3) -> set[str]:
    """Distinct k-token shingles, the battery's definition (whitespace
    split of the trimmed text)."""
    toks = text.split()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def docs(work: str, seed: int) -> str:
    """documents.parquet and embeddings.parquet with planted exact
    copies, near-copies (3-shingle Jaccard in NEAR_JACCARD) and vector
    neighbours; the plants and the probe phrases go to manifest.json."""
    out = _cache_dir(work, "docs", seed, f"n{DOCS_BASE}")
    if _fresh(out):
        return out
    _start(out)
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(n))])
        for n in rng.integers(10, 100, DOCS_BASE)
    ]
    exact_groups = []
    for src in rng.choice(DOCS_BASE, DOCS_EXACT_GROUPS, replace=False):
        ids = [int(src)]
        for _ in range(int(rng.integers(1, 4))):
            ids.append(len(texts))
            texts.append(texts[src])
        exact_groups.append(ids)
    near_pairs = []
    long_docs = [i for i in range(DOCS_BASE) if len(texts[i].split()) >= 60]
    for src in rng.choice(long_docs, DOCS_NEAR_PAIRS, replace=False):
        toks = texts[src].split()
        base = shingles(texts[src])
        # append fresh tokens until the Jaccard falls to ~0.85
        extra: list[str] = []
        while True:
            cand = " ".join(toks + extra)
            j = jaccard(base, shingles(cand))
            if j <= NEAR_JACCARD[1]:
                break
            extra.append(str(vocab[rng.integers(0, len(vocab))]))
        if j < NEAR_JACCARD[0]:
            continue
        near_pairs.append([int(src), len(texts), j])
        texts.append(cand)
    n = len(texts)
    perm = rng.permutation(n)  # row r holds texts[perm[r]]: plants spread over ids
    doc_id = np.empty(n, dtype=np.int64)  # doc_id[i]: the id of texts[i]
    doc_id[perm] = np.arange(n)
    _write_parquet(
        out,
        "documents",
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": [texts[i] for i in perm],
            "lang": np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(texts[i]) for i in perm], dtype=np.int64),
        },
    )
    exact_groups = [sorted(int(doc_id[i]) for i in g) for g in exact_groups]
    near_pairs = [
        sorted([int(doc_id[a]), int(doc_id[b])]) + [j] for a, b, j in near_pairs
    ]
    # phrases: 3-token windows of random documents, plus absent ones
    present = []
    while len(present) < PHRASES_PRESENT:
        toks = texts[int(rng.integers(0, DOCS_BASE))].split()
        s = int(rng.integers(0, len(toks) - 3))
        p = " ".join(toks[s : s + 3])
        if p not in present:
            present.append(p)
    absent = [f"{w} zzqx {w}" for w in vocab[rng.integers(0, len(vocab), PHRASES_ABSENT)]]

    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    emb = centers[rng.integers(0, EMB_CLUSTERS, EMB_N)] + rng.normal(
        scale=0.6, size=(EMB_N, EMB_DIM)
    )
    neighbours = []
    slots = rng.choice(np.arange(100, EMB_N), EMB_ANCHORS * 3, replace=False)
    for a in range(EMB_ANCHORS):  # anchors are vec_id 0..39, the query ids
        for s in slots[3 * a : 3 * a + 3]:
            emb[s] = emb[a] + rng.normal(scale=0.05, size=EMB_DIM)
            neighbours.append([a, int(s)])
    emb = emb.astype(np.float32)
    _write_parquet(
        out,
        "embeddings",
        {
            "vec_id": np.arange(EMB_N, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, EMB_N).astype(np.int32)),
        },
    )
    _finish(
        out,
        {
            "seed": seed,
            "documents": n,
            "base_documents": DOCS_BASE,
            "exact_groups": exact_groups,
            "near_pairs": near_pairs,
            "phrases": present + [str(p) for p in absent],
            "embeddings": EMB_N,
            "dim": EMB_DIM,
            "clusters": EMB_CLUSTERS,
            "vector_neighbours": neighbours,
        },
    )
    return out


KINDS = {"invoices": invoices, "tpch": tpch, "docs": docs}

if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--kind", choices=sorted(KINDS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", default=".perfbench_work")
    a = ap.parse_args()
    print(KINDS[a.kind](a.work, a.seed))
