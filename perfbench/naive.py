"""Naive pure-Python references the benchmark checks the engine against.

Each one restates the engine's documented semantics in the most direct
form, independent of the engine's code: the four search answers of
``sources/search.SearchCursor`` and the IVF-PQ answer of
``VectorSearchCursor.adc_topk``.
"""

from __future__ import annotations

import json
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

IVF_META = "_ivf_meta.json"  # the IVF index's meta file (operators/similarity.py)


def round6(x: float) -> float:
    """Spark ``round(x, 6)``: HALF_UP on the exact decimal of the double."""
    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


class SearchReference:
    """Answers ``SearchCursor`` ops from the tokenized corpus, the stored
    idf values and the ranks the index was built from."""

    def __init__(self, texts: dict[int, str], tokens: dict[int, list[str]],
                 idf: dict[str, float], pr: dict[int, float], w_tfidf: float, w_pr: float):
        self.texts = texts
        self.idf = idf
        self.pr = pr
        self.w_tfidf, self.w_pr = w_tfidf, w_pr
        self.positions: dict[str, dict[int, list[int]]] = {}
        for d, ts in tokens.items():
            for p, t in enumerate(ts):
                self.positions.setdefault(t, {}).setdefault(d, []).append(p)

    def search(self, terms: list[str]) -> list[dict]:
        out = []
        for t in sorted(set(terms)):
            if t not in self.idf:
                continue
            for d, ps in self.positions.get(t, {}).items():
                if d in self.pr:
                    score = round6(self.w_tfidf * len(ps) * self.idf[t] + self.w_pr * self.pr[d])
                    out.append({"term": t, "doc_id": d, "score": score})
        out.sort(key=lambda r: (-r["score"], r["term"], r["doc_id"]))
        return out

    def search_with_snippets(self, term: str, k: int = 10, before: int = 20,
                             width: int = 50) -> list[dict]:
        top = sorted(self.search([term]), key=lambda r: (-r["score"], r["doc_id"]))[:k]
        out = []
        for r in top:
            text = self.texts[r["doc_id"]]
            at = text.find(term)
            if at < 0:
                continue
            start = max(at - before, 0)
            out.append({"doc_id": r["doc_id"], "score": r["score"],
                        "snippet": text[start:start + width]})
        return out

    def phrase(self, terms: list[str]) -> list[dict]:
        first = self.positions.get(terms[0], {})
        out = []
        for d in sorted(first):
            starts = [p for p in first[d]
                      if all(p + i in set(self.positions.get(t, {}).get(d, ()))
                             for i, t in enumerate(terms[1:], 1))]
            if starts:
                out.append({"doc_id": d, "phrase_tf": len(starts), "first_pos": starts[0]})
        return out

    def near(self, a: str, b: str, max_dist: int = 5) -> list[dict]:
        pa, pb = self.positions.get(a, {}), self.positions.get(b, {})
        out = []
        for d in sorted(set(pa) & set(pb)):
            md = min(abs(x - y) for x in pa[d] for y in pb[d])
            if md <= max_dist:
                out.append({"doc_id": d, "min_dist": md, "tf_a": len(pa[d]), "tf_b": len(pb[d])})
        return out


class AdcReference:
    """Answers ``VectorSearchCursor.adc_topk`` from the IVF-PQ index's own
    files: the centroids and PQ books in its meta file, the vectors, codes
    and buckets in its parquet data. Every squared L2 is the left fold over
    dimensions (first term, then ``acc + t*t``) and the ADC sum runs in
    subspace order, as the engine documents, so distances are bit-equal."""

    def __init__(self, ivf_dir: str):
        import pyarrow.parquet as pq

        with open(os.path.join(ivf_dir, IVF_META)) as fh:
            meta = json.load(fh)
        self.cent_ids = np.array([c for c, _ in meta["centroids"]])
        self.cents = np.array([cv for _, cv in meta["centroids"]], dtype=np.float64)
        self.books = [np.array([cv for _, cv in book], dtype=np.float64)
                      for _, book in sorted(meta["pq"]["books"])]
        t = pq.read_table(ivf_dir, columns=["vec_id", "embedding", "codes", "centroid"])
        self.ids = t["vec_id"].to_numpy()
        self.vecs = np.array(t["embedding"].to_pylist(), dtype=np.float64)
        self.codes = np.array(t["codes"].to_pylist(), dtype=np.int64)
        self.bucket = np.array(t["centroid"].to_pylist(), dtype=np.int64)

    @staticmethod
    def _sq_l2(x: np.ndarray, y: np.ndarray) -> np.ndarray:
        """Left-fold squared L2 of each row of ``x`` to the vector ``y``."""
        t = x[..., 0] - y[..., 0]
        acc = t * t
        for j in range(1, x.shape[-1]):
            t = x[..., j] - y[..., j]
            acc = acc + t * t
        return acc

    def _nearest_bucket(self, x: np.ndarray) -> np.ndarray:
        """Argmax cosine over the centroids, lowest id on ties."""
        sims = (x @ self.cents.T) / np.outer(np.linalg.norm(x, axis=-1), np.linalg.norm(self.cents, axis=1))
        return self.cent_ids[np.argmax(sims, axis=1)]

    def index_problems(self) -> list[str]:
        """The stored bucket and PQ codes of every vector against a fresh
        assignment and encoding of its stored embedding."""
        problems = []
        wrong = int((self._nearest_bucket(self.vecs) != self.bucket).sum())
        if wrong:
            problems.append(f"{wrong} vectors in the wrong IVF bucket")
        subdim = self.books[0].shape[1]
        for sp, book in enumerate(self.books):
            sub = self.vecs[:, sp * subdim:(sp + 1) * subdim]
            d = np.stack([self._sq_l2(sub, code) for code in book], axis=1)
            wrong = int((d.argmin(axis=1) != self.codes[:, sp]).sum())
            if wrong:
                problems.append(f"subspace {sp}: {wrong} wrong PQ codes")
        return problems

    def adc_topk(self, probe: list[float], k: int) -> list[dict]:
        p = np.asarray(probe, dtype=np.float64)
        (c,) = self._nearest_bucket(p[None, :])
        rows = np.flatnonzero(self.bucket == c)
        subdim = self.books[0].shape[1]
        tables = [self._sq_l2(book, p[sp * subdim:(sp + 1) * subdim])
                  for sp, book in enumerate(self.books)]
        dist = tables[0][self.codes[rows, 0]]
        for sp in range(1, len(tables)):
            dist = dist + tables[sp][self.codes[rows, sp]]
        scored = sorted((round6(float(d)), int(i)) for d, i in zip(dist, self.ids[rows]))
        return [{"vec_id": i, "adc_dist": d} for d, i in scored[:k]]
