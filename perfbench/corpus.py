"""Pipeline-layer statements over the seeded corpus.

``AnnServe`` is the ANN serve path: an IVF index built with
``similarity.ivf_index`` at set-up, and ``similarity.ivf_topk`` over
seeded query batches. Top-k serving is a short read, so it rides in
``quote_dashboard``'s mix.

``NearDup`` is near-duplicate removal: ``dedup.minhash_dedup_cc`` (LSH
candidates, Jaccard verification, connected components) over documents
with planted near-duplicate clusters. It is a batch step on the write
side, so it rides in ``quote_ingest``'s first cycle.
"""

from __future__ import annotations

import os
import time

import numpy as np

from common import Stmt

K = 10
N_CENTROIDS = 16
N_PROBE = 4


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}


class AnnServe:
    def __init__(self, data, seed: int):
        self.data = data
        self.seed = seed

    def prepare(self) -> None:
        self.vec_dir = os.path.join(self.data.corpus(), "vectors")
        self.X, self.qbatches = self.data.embeddings()
        self.exact = [self._exact_topk(Q) for Q in self.qbatches]

    def _exact_topk(self, Q: np.ndarray):
        U = self.X / np.linalg.norm(self.X, axis=1, keepdims=True)
        Qu = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        S = Qu @ U.T
        top = np.argsort(-S, axis=1, kind="stable")[:, :K]
        return [{int(j) for j in top[q]} for q in range(len(Q))], S

    def setup(self, spark, tr, eng) -> list[Stmt]:
        """Cache the vectors, build the index (``index_s``) and the query
        batches; returns one statement per batch."""
        import pandas as pd

        from imcs_spark.pipeline import similarity

        vecs = tr.call("table", eng.create, "vectors_src", self.vec_dir, ts_col="vec_id").df().persist()
        vecs.count()
        self.vecs = eng.create("vectors", vecs, ts_col="vec_id").df()
        t0 = time.perf_counter()
        self.index = tr.call(
            "pipeline.similarity", similarity.ivf_index, self.vecs, n_centroids=N_CENTROIDS, iters=2, seed=self.seed % 1000
        )
        self.index_s = time.perf_counter() - t0
        self.qdfs = []
        for b, Q in enumerate(self.qbatches):
            pdf = pd.DataFrame({"query_id": np.arange(len(Q), dtype=np.int64) + 1000 * b, "embedding": list(Q)})
            self.qdfs.append(spark.createDataFrame(pdf, "query_id long, embedding array<double>").persist())
            self.qdfs[-1].count()
        self.recall: dict[int, float] = {}
        n = self.data.scale.n_vectors
        return [Stmt(f"topk_{b}", n, self._check(b), self._build(b)) for b in range(len(self.qbatches))]

    def _build(self, b: int):
        from imcs_spark.pipeline import similarity

        def build(tr):
            return tr.call(
                "pipeline.similarity", similarity.ivf_topk, self.vecs, self.qdfs[b], k=K,
                n_centroids=N_CENTROIDS, n_probe=N_PROBE, index=self.index,
            ).select("query_id", "vec_id", "cosine", "rank")

        return build

    def _check(self, b: int):
        """Ranks 1..K per query, scores in rank order and equal to the
        exact cosine; records the batch's recall against exact top-K."""
        exact, S = self.exact[b]

        def check(rows):
            per_q: dict[int, list] = {}
            for qid, vid, cos, rank in rows:
                per_q.setdefault(qid - 1000 * b, []).append((rank, vid, cos))
            if sorted(per_q) != list(range(len(exact))):
                return f"results for {len(per_q)} of {len(exact)} queries"
            for q, hits in per_q.items():
                hits.sort()
                if [h[0] for h in hits] != list(range(1, K + 1)):
                    return f"query {q}: ranks {[h[0] for h in hits]}"
                for _, vid, cos in hits:
                    if abs(cos - S[q, vid]) > 1e-6:
                        return f"query {q}: cosine of {vid} is {cos}, exact {S[q, vid]}"
                if any(hits[j][2] < hits[j + 1][2] for j in range(K - 1)):
                    return f"query {q}: scores not in rank order"
            self.recall[b] = float(np.mean([len({h[1] for h in per_q[q]} & exact[q]) / K for q in per_q]))
            return None

        return check

    def _rerank_per_query(self) -> float:
        """Corpus vectors re-ranked per query: the sizes of the n_probe
        cells each query probes, from the built index."""
        centroids, assigned = self.index
        sizes = dict(assigned.groupBy("cell").count().collect())
        C = np.asarray(centroids)
        C = C / np.linalg.norm(C, axis=1, keepdims=True)
        total = []
        for Q in self.qbatches:
            Qu = Q / np.linalg.norm(Q, axis=1, keepdims=True)
            probe = np.argsort(-(Qu @ C.T), axis=1)[:, :N_PROBE]
            total.extend(sum(sizes.get(int(c), 0) for c in row) for row in probe)
        return float(np.mean(total))

    def metrics(self) -> dict:
        return {
            "recall_at_10": float(np.mean(list(self.recall.values()))),
            "pipeline.similarity.index_s": self.index_s,
            "pipeline.similarity.rerank_per_query": self._rerank_per_query(),
        }


class NearDup:
    def __init__(self, data):
        self.data = data

    def prepare(self) -> None:
        self.docs_dir = os.path.join(self.data.corpus(), "docs")
        self.kept = self._kept_reference(*self.data.corpus_docs())

    @staticmethod
    def _kept_reference(texts: list[str], cluster: np.ndarray) -> list[int]:
        """Survivors: the minimum id of every component of planted pairs
        whose exact word-3-gram Jaccard reaches 0.8; everything else is
        unique by construction (random 60-word documents)."""
        parent = {}

        def find(a):
            while parent.get(a, a) != a:
                a = parent[a]
            return a

        members: dict[int, list[int]] = {}
        for i, c in enumerate(cluster):
            if c >= 0:
                members.setdefault(int(c), []).append(i)
        for ids in members.values():
            sh = {i: _shingles(texts[i]) for i in ids}
            for x in range(len(ids)):
                for y in range(x + 1, len(ids)):
                    a, b = ids[x], ids[y]
                    if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.8:
                        ra, rb = find(a), find(b)
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
        return sorted(i for i in range(len(texts)) if find(i) == i)

    def setup(self, spark, tr, eng) -> Stmt:
        """Cache the documents; returns the dedup statement."""
        from imcs_spark.pipeline import dedup

        docs = tr.call("table", eng.create, "docs_src", self.docs_dir, ts_col="doc_id").df().persist()
        docs.count()
        self.docs = eng.create("docs", docs, ts_col="doc_id").df()

        def build(tr):
            return tr.call("pipeline.dedup", dedup.minhash_dedup_cc, self.docs).select("doc_id")

        def check(rows):
            got = sorted(r[0] for r in rows)
            if got != self.kept:
                extra, missing = set(got) - set(self.kept), set(self.kept) - set(got)
                return f"kept {len(got)} docs, reference {len(self.kept)}; extra {sorted(extra)[:5]} missing {sorted(missing)[:5]}"
            return None

        return Stmt("dedup_cc", self.data.scale.n_docs, check, build)

    def probe(self, tr) -> dict:
        """The stages minhash_dedup_cc composes, called one by one (traced
        run only): candidate pairs, verified share and the connected
        components step's time."""
        from imcs_spark.pipeline import dedup

        sigs = tr.call("pipeline.dedup", dedup.minhash_signatures, self.docs, "text", "doc_id")
        cands = tr.call("pipeline.dedup", dedup.minhash_lsh_candidates, sigs, "doc_id").persist()
        n_cand = cands.count()
        pairs = tr.call("pipeline.dedup", dedup.jaccard_pairs, self.docs, cands, "text", "doc_id").persist()
        n_pairs = pairs.count()
        t0 = time.perf_counter()
        tr.call("pipeline.dedup", dedup.connected_components, pairs).count()
        cc_ms = (time.perf_counter() - t0) * 1e3
        cands.unpersist()
        pairs.unpersist()
        return {
            "pipeline.dedup.candidate_pairs": float(n_cand),
            "pipeline.dedup.verified_ratio": n_pairs / max(n_cand, 1),
            "pipeline.dedup.cc_ms": cc_ms,
        }
