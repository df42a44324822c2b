"""``llm_curation``: dedup and similarity search over a seeded corpus.

Each operation is one call of ``exact_dedup``, ``minhash_dedup_pairs``,
``simhash_near_pairs``, ``cosine_topk``, ``lsh_topk`` or
``search_ivf_index``, with its result collected. Exact operators are
checked against answers computed here in Python, numpy or DuckDB;
approximate ones are checked for well-formed, correctly scored output
and scored into recall against the planted pairs and exact top-k.
"""

from __future__ import annotations

import hashlib
from itertools import combinations

import duckdb
import numpy as np
import pandas as pd

import gen
from harness import Op, med

SIZES = {
    "full": {"n_docs": 2_000, "n_vecs": 2_000, "n_queries": 250, "batch": 25},
    "tiny": {"n_docs": 300, "n_vecs": 300, "n_queries": 20, "batch": 10},
}
JACCARD = 0.7
HAMMING = 3
K = 10
COS_TOL = 1e-9
#: Recall below these floors makes an approximate operator's output wrong.
MIN_RECALL = {"minhash": 0.9, "simhash": 0.5, "lsh": 0.5, "ivf": 0.5}


def shingles(text: str) -> set:
    w = text.split(" ")
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def simhash_fingerprints(docs) -> pd.DataFrame:
    """The documented 32-bit SimHash in numpy: token value (first
    codepoint * 256 + length) mod 2^15, Knuth-mixed mod 2^32; bit j is
    set when more tokens have bit j set than not."""
    from pandas_analysis_with_postgres_spark.operators.dedup import (
        BAND_MIX,
        SIMHASH_BITS,
        TOKEN_BASE,
    )

    texts = docs.column("text").to_pylist()
    toks = [t.split(" ") for t in texts]
    width = max(len(t) for t in toks)
    tv = np.zeros((len(toks), width), dtype=np.int64)
    valid = np.zeros((len(toks), width), dtype=bool)
    for i, ws in enumerate(toks):
        tv[i, :len(ws)] = [(ord(w[0]) * 256 + len(w)) % TOKEN_BASE for w in ws]
        valid[i, :len(ws)] = True
    mixed = (tv * BAND_MIX) % (1 << 32)
    bits = (mixed[:, :, None] >> np.arange(SIMHASH_BITS)) & 1
    sums = np.where(valid[:, :, None], 2 * bits - 1, 0).sum(axis=1)
    fp = ((sums > 0) * (1 << np.arange(SIMHASH_BITS, dtype=np.int64))).sum(axis=1)
    return pd.DataFrame({"doc_id": docs.column("doc_id").to_numpy(), "simhash": fp})


class LlmCuration:
    name = "llm_curation"
    #: share of the run's time budget per pass (see run.py)
    pass_seconds = 10.0
    warmup_passes = 1

    def __init__(self, spark, tracer, seed: int, size: str):
        self.spark, self.tr, self.seed, self.size = spark, tracer, seed, size
        self.cfg = SIZES[size]
        self.pass_no = 0
        self.recall: dict[str, list[float]] = {
            "minhash": [], "simhash": [], "lsh": [], "ivf": []
        }

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        from pandas_analysis_with_postgres_spark.operators.similarity import build_ivf_index

        cfg = self.cfg
        self.dir = gen.work_dir(self.name, self.seed, self.size)
        docs, clusters = gen.make_corpus(self.seed, cfg["n_docs"])
        corpus, queries, self.cmat, self.qmat = gen.make_vectors(
            self.seed, cfg["n_vecs"], cfg["n_queries"]
        )
        for name, t in (("docs", docs), ("corpus", corpus), ("queries", queries)):
            gen.write_arrow(t, self.dir / name / "part-0.parquet")
        read = self.spark.read.parquet
        self.docs = read(str(self.dir / "docs"))
        self.corpus = read(str(self.dir / "corpus"))
        self.queries = read(str(self.dir / "queries"))
        self.index = str(self.dir / "ivf_index")
        # the id-prefix codebook: training k-means would triple the set-up
        build_ivf_index(self.corpus, self.index, trained=False)

        # Ground truth, computed once outside the loop.
        ids = docs.column("doc_id").to_pylist()
        texts = docs.column("text").to_pylist()
        self.sh = {i: shingles(t) for i, t in zip(ids, texts)}
        groups: dict[str, list[int]] = {}
        for i, t in zip(ids, texts):
            groups.setdefault(t, []).append(i)
        self.exact = {
            (hashlib.sha256(t.encode()).hexdigest(), min(g), len(g))
            for t, g in groups.items()
        }
        planted = {p for c in clusters for p in combinations(sorted(c), 2)}
        self.planted = planted
        self.near = {p for p in planted if jaccard(self.sh[p[0]], self.sh[p[1]]) >= JACCARD}
        fp = simhash_fingerprints(docs)
        con = duckdb.connect()
        try:
            con.register("fp", fp)
            self.sim_pairs = set(con.execute(
                "SELECT a.doc_id, b.doc_id, bit_count(xor(a.simhash, b.simhash)) "
                "FROM fp a JOIN fp b ON a.doc_id < b.doc_id "
                f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING}"
            ).fetchall())
        finally:
            con.close()
        self.q_ids = queries.column("vec_id").to_numpy()
        c64 = self.cmat.astype(np.float64)
        self.cn = c64 / np.linalg.norm(c64, axis=1, keepdims=True)
        self.n_batches = cfg["n_queries"] // cfg["batch"]
        # a pass reads the corpus in three dedup ops and the vectors in
        # three searches
        self.input_rows = cfg["n_docs"] * 3 + cfg["n_vecs"] * 3

    # -- the loop --------------------------------------------------------
    def reset(self) -> None:
        """Operations only read; nothing to reset."""

    def pass_ops(self) -> list[Op]:
        from pandas_analysis_with_postgres_spark.operators import dedup, similarity

        b = self.pass_no % self.n_batches
        self.pass_no += 1
        lo = b * self.cfg["batch"]
        q_ids = self.q_ids[lo:lo + self.cfg["batch"]]
        q = self.queries.filter(
            (self.queries.vec_id >= int(q_ids[0])) & (self.queries.vec_id <= int(q_ids[-1]))
        )

        def call(span, fn):
            def run():
                with self.tr.span(span):
                    return [tuple(r) for r in fn().collect()]
            return run

        return [
            Op("exact", call("operators.dedup.exact", lambda: dedup.exact_dedup(self.docs)),
               self._check_exact),
            Op("minhash", call("operators.dedup.minhash",
                               lambda: dedup.minhash_dedup_pairs(self.docs, threshold=JACCARD)),
               self._check_minhash),
            Op("simhash", call("operators.dedup.simhash",
                               lambda: dedup.simhash_near_pairs(self.docs, max_hamming=HAMMING)),
               self._check_simhash),
            Op("cosine", call("operators.similarity.cosine",
                              lambda: similarity.cosine_topk(self.corpus, q, K)),
               lambda res: self._check_topk(res, lo, None)),
            Op("lsh", call("operators.similarity.lsh",
                           lambda: similarity.lsh_topk(self.corpus, q, K)),
               lambda res: self._check_topk(res, lo, "lsh")),
            Op("ivf", call("operators.similarity.ivf_search",
                           lambda: similarity.search_ivf_index(q, self.index, K)),
               lambda res: self._check_topk(res, lo, "ivf")),
        ]

    # -- checks ----------------------------------------------------------
    def _check_exact(self, rows) -> str | None:
        got = set(rows)
        if got != self.exact:
            return f"exact_dedup: {len(got ^ self.exact)} groups differ"
        return None

    def _check_minhash(self, rows) -> str | None:
        for a, b, j in rows:
            want = jaccard(self.sh[a], self.sh[b])
            if abs(j - want) > 1e-12 or want < JACCARD:
                return f"minhash pair ({a}, {b}) jaccard {j}, want {want}"
        got = {(a, b) for a, b, _ in rows}
        if len(got) != len(rows):
            return "minhash returned duplicate pairs"
        return self._recall("minhash", len(got & self.near) / max(1, len(self.near)))

    def _check_simhash(self, rows) -> str | None:
        got = set(rows)
        if got != self.sim_pairs:
            return f"simhash: {len(got ^ self.sim_pairs)} pairs differ from brute force"
        hit = {(a, b) for a, b, _ in got} & self.planted
        return self._recall("simhash", len(hit) / max(1, len(self.planted)))

    def _check_topk(self, rows, lo: int, approx: str | None) -> str | None:
        qs = self.qmat[lo:lo + self.cfg["batch"]].astype(np.float64)
        qn = qs / np.linalg.norm(qs, axis=1, keepdims=True)
        sims = qn @ self.cn.T  # exact cosine, batch x corpus
        by_q: dict[int, list] = {}
        for qid, nid, rank, cos in rows:
            by_q.setdefault(qid, []).append((rank, nid, cos))
        hits = 0
        for j in range(len(qs)):
            qid = int(self.q_ids[lo + j])
            got = sorted(by_q.get(qid, []))
            if [r for r, _, _ in got] != list(range(1, len(got) + 1)):
                return f"query {qid}: ranks {[r for r, _, _ in got]}"
            cos = np.array([c for _, _, c in got])
            want_cos = sims[j, np.array([n for _, n, _ in got], dtype=np.int64) - 1]
            if len(got) and np.max(np.abs(cos - want_cos)) > COS_TOL:
                return f"query {qid}: reported cosine differs from numpy"
            if np.any(np.diff(cos) > COS_TOL):
                return f"query {qid}: neighbors not in cosine order"
            top = np.sort(sims[j])[::-1][:K]
            if approx is None:
                if len(got) != K or np.max(np.abs(cos - top)) > COS_TOL:
                    return f"query {qid}: cosine_topk differs from numpy top-{K}"
            else:
                hits += int(np.sum(cos >= top[-1] - COS_TOL))
        if approx is not None:
            return self._recall(approx, hits / (K * len(qs)))
        return None

    def _recall(self, op: str, value: float) -> str | None:
        self.recall[op].append(value)
        if value < MIN_RECALL[op]:
            return f"{op} recall {value:.3f} below {MIN_RECALL[op]}"
        return None

    # -- metrics ---------------------------------------------------------
    def metrics(self, loop) -> dict:
        rec = {k: med(v) for k, v in self.recall.items()}
        out = {f"operators.dedup.{k}_recall": rec[k] for k in ("minhash", "simhash")}
        out.update({f"operators.similarity.{k}_recall": rec[k] for k in ("lsh", "ivf")})
        out["recall"] = float(np.mean(list(rec.values())))
        return out

    def layer_counts(self) -> dict:
        """Useful-work ratios, counted once per run outside the loop."""
        from pandas_analysis_with_postgres_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_dedup_pairs,
            minhash_signatures,
        )
        from pandas_analysis_with_postgres_spark.sources.snapshot import read_snapshot

        cand = lsh_candidate_pairs(minhash_signatures(self.docs)).count()
        verified = minhash_dedup_pairs(self.docs, threshold=JACCARD).count()
        cent = read_snapshot(self.spark, f"{self.index}/centroids").toPandas()
        cells = read_snapshot(self.spark, f"{self.index}/vectors").groupBy("cell_id").count()
        size = dict(cells.toPandas().itertuples(index=False, name=None))
        cv = np.stack(cent["centv"].to_numpy()).astype(np.float64)
        cv /= np.linalg.norm(cv, axis=1, keepdims=True)
        qn = self.qmat / np.linalg.norm(self.qmat, axis=1, keepdims=True)
        from pandas_analysis_with_postgres_spark.operators.similarity import IVF_PROBE

        probe = np.argsort(-(qn @ cv.T), axis=1)[:, :IVF_PROBE]
        ids = cent["cell_id"].to_numpy()
        per_q = [sum(size.get(int(ids[c]), 0) for c in row) for row in probe]
        return {
            "operators.dedup.candidate_yield": verified / max(1, cand),
            "operators.similarity.candidates_per_query": float(np.mean(per_q)),
        }
