"""Workload ``llm_docs``: dedup, quality, similarity and text indexes.

A seeded documents and embeddings corpus with planted exact copies,
near-copies and vector neighbours. This is where the Arrow/Python
kernel boundary and the dedup, similarity and text-index operators do
their work; none of them runs in the other workloads.

Reads: four battery entries, a probe of a persisted IVF-PQ index and a
multi-phrase probe of a positional text index. Writes: both indexes.
One more operation, ``dedup_nested_null_keys``, fails on every run
(see ``NESTED_NULL_KEYS``) and is counted as failed.
"""

from __future__ import annotations

import math
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from ops import Op, Step, expect, noop, normalize

ENTRIES = ("dedup_exact_documents", "dedup_minhash_lsh", "text_quality",
           "similarity_topk_cosine")
JACCARD_THRESHOLD = 0.8  # the dedup_minhash_lsh entry's threshold
BANDS, ROWS = 8, 4  # minhash_lsh_pairs' default banding
MISS_TAIL = 1e-9  # chance the recall check may fail on a correct engine
IVF_CELLS, PQ_M, PQ_CODES = 16, 16, 64
PROBE_K, PROBE_NPROBE, PROBE_SHORTLIST = 10, 8, 100
IVFPQ_RECALL_FLOOR = 0.9
N_PROBE_QUERIES = 40  # the planted anchors, vec_id 0..39
TEXT_BUCKETS = 16  # term buckets of the text index, sized to the corpus

# exact_dedup_groups(keep_keys=False) over array keys with null
# elements: four distinct keys, so GROUP BY gives four groups. The
# engine's xxhash64 fingerprint skips nested nulls and merges them
# into two, on every run; the operation is counted as failed.
NESTED_NULL_KEYS = [(1, ["a", None]), (2, ["a"]), (3, [None]), (4, [])]


def banding_miss(j: float) -> float:
    """Chance a pair of Jaccard ``j`` shares no band."""
    return (1.0 - j**ROWS) ** BANDS


def min_planted_found(js: list[float]) -> int:
    """Smallest count of planted pairs found that a correct engine
    reaches with probability at least 1 - MISS_TAIL: the banding bound
    per pair, summed as a Poisson-binomial with a Chernoff tail."""
    mu = sum(banding_miss(j) for j in js)
    misses = 0
    while True:
        # P(X >= m) <= exp(-mu) (e mu / m)^m for m > mu
        m = misses + 1
        if m > mu and -mu + m * (1 + math.log(mu / m)) < math.log(MISS_TAIL):
            return len(js) - misses
        misses += 1


def phrase_hits(texts: dict[int, str], phrases: list[str]) -> set[tuple]:
    """(phrase, doc_id, occurrences) by a plain positional scan with the
    index's tokenizer (lowercase, trim, whitespace split)."""
    out = set()
    toks = {i: [t for t in re.split(r"\s+", s.lower().strip()) if t] for i, s in texts.items()}
    for p in phrases:
        q = p.lower().split()
        for i, ts in toks.items():
            n = sum(ts[s : s + len(q)] == q for s in range(len(ts) - len(q) + 1))
            if n:
                out.add((p, i, n))
    return out


def _topk_exact(emb: np.ndarray, qids: range, k: int) -> dict[int, list[int]]:
    x = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    s = x[list(qids)] @ x.T
    out = {}
    for row, q in enumerate(qids):
        s[row, q] = -np.inf  # exclude self
        out[q] = list(np.lexsort((np.arange(len(x)), -s[row]))[:k])
    return out


def _kmeans(x: np.ndarray, k: int, rng, iters: int = 8) -> np.ndarray:
    c = x[rng.choice(len(x), k, replace=False)].copy()
    for _ in range(iters):
        a = ((x[:, None, :] - c[None]) ** 2).sum(-1).argmin(1)
        for j in range(k):
            if (a == j).any():
                c[j] = x[a == j].mean(0)
    return c


def ivfpq_model(emb: np.ndarray, rng):
    """The frozen IVF-PQ model both index writes use, trained here in
    numpy (the engine's trainers are not what this workload measures):
    coarse centroids on L2-normalized vectors, then per-subspace PQ
    codebooks on the residuals, the layout ``write_ivfpq_index`` takes."""
    x = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    cents = _kmeans(x, IVF_CELLS, rng)
    assign = ((x[:, None, :] - cents[None]) ** 2).sum(-1).argmin(1)
    res = x - cents[assign]
    sub = x.shape[1] // PQ_M
    books = np.stack([_kmeans(res[:, j * sub:(j + 1) * sub], PQ_CODES, rng)
                      for j in range(PQ_M)])
    return [[float(v) for v in c] for c in cents], books


class Docs:
    name = "llm_docs"

    def __init__(self, work: str, out: str, seed: int):
        """Inputs are generated (or found) under ``work``; outputs go to ``out``."""
        from implementation_of_an_etl_process_spark import queries as battery

        self.data = gen.docs(work, seed)
        self.manifest = gen.load_manifest(self.data)
        d = pq.read_table(f"{self.data}/documents.parquet").to_pydict()
        self.texts = dict(zip(d["doc_id"], d["text"]))
        self.n_docs = len(self.texts)
        e = pq.read_table(f"{self.data}/embeddings.parquet").to_pydict()
        self.emb = np.array(e["embedding"], dtype=np.float64)
        oracles = battery.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
            self.want = {}
            for q in ("dedup_exact_documents", "text_quality"):
                cur = con.execute(oracles[q])
                cols = [c[0] for c in cur.description]
                self.want[q] = (sorted(cols), normalize(cur.fetchall(), cols))
            con.execute("CREATE TABLE nk (id BIGINT, k VARCHAR[])")
            con.executemany("INSERT INTO nk VALUES (?, ?)", NESTED_NULL_KEYS)
            self.want_nested = sorted(
                con.execute("SELECT MIN(id), COUNT(*) FROM nk GROUP BY k").fetchall()
            )
        finally:
            con.close()
        self.shingles = {i: gen.shingles(t) for i, t in self.texts.items()}
        self.near = [tuple(p[:2]) for p in self.manifest["near_pairs"]]
        self.min_near_found = min_planted_found([p[2] for p in self.manifest["near_pairs"]])
        self.phrases = self.manifest["phrases"]
        self.want_phrases = phrase_hits(self.texts, self.phrases)
        self.want_top10 = _topk_exact(self.emb, range(N_PROBE_QUERIES), PROBE_K)
        self.want_top5 = _topk_exact(self.emb, range(20), 5)
        self.cents, self.books = ivfpq_model(self.emb, np.random.default_rng([seed, 4]))
        self.found = {}
        self.out = os.path.join(out, "llm_docs")

    def prepare(self, spark, n_slots: int) -> None:
        """Nothing to set on the session: the IVF-PQ model is numpy's."""

    def detail(self) -> dict:
        return dict(self.found)

    def ops(self, spark) -> list[Op]:
        from implementation_of_an_etl_process_spark import queries as battery
        from implementation_of_an_etl_process_spark.operators import similarity as S
        from implementation_of_an_etl_process_spark.operators import textindex as TI
        from implementation_of_an_etl_process_spark.operators.dedup import (
            exact_dedup_groups,
        )
        from implementation_of_an_etl_process_spark.sources.parquet import read_table

        entries = battery.queries()
        ivf_path = os.path.join(self.out, "ivfpq")
        txt_path = os.path.join(self.out, "textindex")

        def docs():
            return read_table(spark, self.data, "documents")

        def emb():
            return read_table(spark, self.data, "embeddings")

        def collect(df):
            return df.columns, [tuple(r) for r in df.collect()]

        def write_ivf():
            S.write_ivfpq_index(emb(), ivf_path, self.books, self.cents,
                                corpus_id="vec_id", corpus_vec="embedding")
            return ivf_path

        def write_txt():
            TI.write_text_index(docs(), txt_path, n_buckets=TEXT_BUCKETS, store_positions=True)
            return txt_path

        def probe_ivf():
            q = emb().filter(f"vec_id < {N_PROBE_QUERIES}")
            return collect(S.ivfpq_query_index(
                spark, ivf_path, q, emb(), query_id="vec_id", query_vec="embedding",
                corpus_id="vec_id", corpus_vec="embedding",
                k=PROBE_K, n_probe=PROBE_NPROBE, shortlist=PROBE_SHORTLIST,
            ))

        def nested():
            df = spark.createDataFrame(NESTED_NULL_KEYS, "id long, k array<string>")
            return collect(exact_dedup_groups(df, ["k"], "id", keep_keys=False))

        def scan(read, rows):
            return Step("sources.docs_scan_s" if read is docs else "sources.emb_scan_s",
                        "sources", lambda: noop(read()), rows=rows)

        n_emb = len(self.emb)
        ops = [
            Op("ivfpq_write", "write",
               [scan(emb, n_emb),
                Step("similarity.ivfpq_build_s", "sinks", write_ivf, base=["sources.emb_scan_s"])],
               lambda p: None),
            Op("textindex_write", "write",
               [scan(docs, self.n_docs),
                Step("textindex.build_s", "sinks", write_txt, base=["sources.docs_scan_s"])],
               lambda p: None),
        ]
        names = {"dedup_exact_documents": "dedup.exact_s", "dedup_minhash_lsh": "dedup.minhash_s",
                 "text_quality": "text.quality_s", "similarity_topk_cosine": "similarity.topk_s"}
        for q in ENTRIES:
            src = emb if q.startswith("similarity") else docs
            rows = n_emb if src is emb else self.n_docs
            base = "sources.emb_scan_s" if src is emb else "sources.docs_scan_s"
            ops.append(Op(q, "read",
                          [scan(src, rows),
                           Step(names[q], "operators",
                                (lambda q=q: collect(entries[q](spark, self.data))), base=[base])],
                          getattr(self, f"_check_{q}")))
        ops += [
            Op("ivfpq_probe", "read",
               [scan(emb, n_emb),
                Step("similarity.ivfpq_probe_s", "operators", probe_ivf, base=["sources.emb_scan_s"])],
               self._check_ivfpq),
            Op("phrase_probe", "read",
               [Step("textindex.phrase_probe_s", "operators",
                     lambda: collect(TI.multi_phrase_query_index(spark, txt_path, self.phrases)))],
               self._check_phrases),
            Op("dedup_nested_null_keys", "read",
               [Step("dedup.nested_null_keys_s", "operators", nested)],
               self._check_nested, known_fault=True),
        ]
        return ops

    # --- checks made apart from the engine --------------------------------

    def _check_dedup_exact_documents(self, result) -> None:
        cols, rows = result
        want_cols, want = self.want["dedup_exact_documents"]
        expect(sorted(cols) == want_cols, f"dedup_exact columns {cols}")
        expect(normalize(rows, cols) == want, "dedup_exact groups differ from DuckDB GROUP BY")

    def _check_text_quality(self, result) -> None:
        cols, rows = result
        want_cols, want = self.want["text_quality"]
        expect(sorted(cols) == want_cols, f"text_quality columns {cols}")
        expect(normalize(rows, cols) == want, "text_quality differs from its DuckDB oracle")

    def _check_dedup_minhash_lsh(self, result) -> None:
        cols, rows = result
        ia, ib = cols.index("id_a"), cols.index("id_b")
        pairs = set()
        for r in rows:
            a, b = r[ia], r[ib]
            j = gen.jaccard(self.shingles[a], self.shingles[b])
            expect(j >= JACCARD_THRESHOLD, f"minhash pair ({a},{b}) has Jaccard {j:.3f}")
            pairs.add((min(a, b), max(a, b)))
        found = sum(p in pairs for p in self.near)
        self.found["dedup.minhash_pairs"] = len(pairs)
        self.found["dedup.minhash_planted_recall"] = found / len(self.near)
        expect(found >= self.min_near_found,
               f"minhash found {found}/{len(self.near)} planted near-pairs, "
               f"banding bound allows no fewer than {self.min_near_found}")

    def _cosine(self, q: int, c: int) -> float:
        a, b = self.emb[q], self.emb[c]
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    def _check_similarity_topk_cosine(self, result) -> None:
        cols, rows = result
        iq, ic, isc = cols.index("qid"), cols.index("cid"), cols.index("score")
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r[iq], []).append((r[ic], r[isc]))
        expect(sorted(by_q) == list(range(20)), "topk: wrong query ids")
        for q, got in by_q.items():
            expect(len(got) == 5, f"topk: query {q} has {len(got)} results")
            for c, s in got:
                expect(abs(self._cosine(q, c) - s) < 1e-3, f"topk: score of ({q},{c})")
            kth = self._cosine(q, self.want_top5[q][-1])
            expect(min(s for _, s in got) >= kth - 1e-3, f"topk: query {q} misses a closer vector")

    def _check_ivfpq(self, result) -> None:
        cols, rows = result
        iq = cols.index("vec_id") if "vec_id" in cols else 0
        ic = [i for i, c in enumerate(cols) if c not in ("vec_id",) and "id" in c][-1]
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r[iq], set()).add(r[ic])
        hits = sum(len(got.get(q, set()) & set(w)) for q, w in self.want_top10.items())
        recall = hits / (PROBE_K * len(self.want_top10))
        self.found["similarity.ivfpq_recall_at_10"] = recall
        expect(recall >= IVFPQ_RECALL_FLOOR, f"ivfpq recall@10 {recall:.3f} < {IVFPQ_RECALL_FLOOR}")

    def _check_phrases(self, result) -> None:
        cols, rows = result
        got = {(r[cols.index("phrase")], r[cols.index("doc_id")], r[cols.index("n_occurrences")])
               for r in rows}
        expect(got == self.want_phrases,
               f"phrase hits: {len(got ^ self.want_phrases)} differ from the positional scan")

    def _check_nested(self, result) -> None:
        cols, rows = result
        got = sorted((r[cols.index("rep_id")], r[cols.index("n_dups")]) for r in rows)
        expect(got == self.want_nested,
               f"nested-null keys: {len(got)} groups, GROUP BY gives {len(self.want_nested)}")
