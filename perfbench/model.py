"""Expected answers, computed from the generated token lists, and the
checker that compares the engine's output against them.

The model is an independent brute-force BM25 over the generator's token
ids (no code from ``glug_spark.query``): Lucene-style idf
``ln(1 + (N - df + .5) / (df + .5))``, k1 = 1.2, b = 0.75, document length
= token count. It tracks two doc sets so it follows the documented
merge-on-read semantics of ``index.deletes``:

- ``in_stats`` — docs that N, avgdl and df count;
- ``live`` — docs a query may return.

``tombstone`` clears ``live`` only (stats still count tombstoned docs);
``purge`` makes ``in_stats`` equal ``live`` (a clean build of the live
docs). Results are ranked by score descending, then doc_id ascending.
"""

from __future__ import annotations

import numpy as np

from gen import Docs

K1, B = 1.2, 0.75
#: rank-identity tolerance on the score itself
SCORE_TOL = 1e-6
#: two expected scores closer than this are a tie, so either doc may
#: hold the rank (float summation order differs between implementations)
TIE_TOL = 1e-9


class Model:
    def __init__(self, docs: list[Docs], words: list[str]) -> None:
        ids = np.concatenate([d.doc_ids for d in docs])
        if not np.array_equal(ids, np.arange(len(ids))):
            raise ValueError("model expects dense doc ids 0..n-1 in order")
        n = len(ids)
        lens = np.concatenate([np.diff(d.offsets) for d in docs])
        self.words = words
        self.index = {w: i for i, w in enumerate(words)}
        self.tokens = np.concatenate([d.tokens for d in docs]).astype(np.int64)
        self.tok_doc = np.repeat(np.arange(n), lens)
        self.dl = lens.astype(np.float64)
        key, tf = np.unique(self.tokens * n + self.tok_doc, return_counts=True)
        self.p_doc = key % n
        self.p_tf = tf.astype(np.float64)
        self.t_start = np.searchsorted(key // n, np.arange(len(words) + 1))
        self.in_stats = np.zeros(n, dtype=bool)
        self.live = np.zeros(n, dtype=bool)

    # --- index state ------------------------------------------------------

    def add(self, docs: Docs) -> None:
        self.in_stats[docs.doc_ids] = True
        self.live[docs.doc_ids] = True

    def tombstone(self, doc_ids: np.ndarray) -> None:
        self.live[doc_ids] = False

    def purge(self) -> None:
        self.in_stats = self.live.copy()

    # --- scoring ----------------------------------------------------------

    def _postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        t = self.index.get(term)
        if t is None:
            return np.zeros(0, np.int64), np.zeros(0)
        s, e = self.t_start[t], self.t_start[t + 1]
        return self.p_doc[s:e], self.p_tf[s:e]

    def _scores(self, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """(dense score per doc, number of the terms each doc holds)."""
        n = len(self.dl)
        n_docs = int(self.in_stats.sum())
        avgdl = float(self.dl[self.in_stats].sum()) / n_docs
        score = np.zeros(n)
        hits = np.zeros(n, dtype=np.int64)
        for term in dict.fromkeys(terms):
            docs, tf = self._postings(term)
            df = int(self.in_stats[docs].sum())
            if not df:
                continue
            idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            norm = K1 * (1.0 - B + B * self.dl[docs] / avgdl)
            score[docs] += idf * (tf * (K1 + 1.0)) / (tf + norm)
            hits[docs] += 1
        return score, hits

    def _ranked(self, score: np.ndarray, ok: np.ndarray
                ) -> tuple[np.ndarray, np.ndarray]:
        ids = np.flatnonzero(ok & self.live)
        s = score[ids]
        order = np.lexsort((ids, -s))
        return ids[order], s[order]

    def topk(self, terms: list[str], conjunctive: bool = False
             ) -> tuple[np.ndarray, np.ndarray]:
        """Every matching live doc, ranked (the checker cuts at k)."""
        uniq = list(dict.fromkeys(terms))
        score, hits = self._scores(uniq)
        return self._ranked(score, hits == len(uniq) if conjunctive
                            else hits > 0)

    def glob_terms(self, glob: str) -> list[str]:
        if not glob.endswith("*") or any(c in glob[:-1] for c in "*?[\\"):
            raise ValueError(f"model only handles prefix globs: {glob!r}")
        return [w for w in self.words if w.startswith(glob[:-1])]

    def glob_topk(self, glob: str) -> tuple[np.ndarray, np.ndarray]:
        score, hits = self._scores(self.glob_terms(glob))
        return self._ranked(score, hits > 0)

    def _pair_docs(self, a: str, b: str, deltas: list[int]) -> np.ndarray:
        """Docs where some token ``a`` at p has ``b`` at p + d."""
        ta, tb = self.index.get(a), self.index.get(b)
        found = np.zeros(len(self.dl), dtype=bool)
        if ta is None or tb is None:
            return found
        tok, doc = self.tokens, self.tok_doc
        for d in deltas:
            lo, hi = max(0, -d), len(tok) - max(0, d)
            pa = np.arange(lo, hi)
            m = (tok[pa] == ta) & (tok[pa + d] == tb) & (doc[pa] == doc[pa + d])
            found[doc[pa[m]]] = True
        return found

    def phrase_docs(self, words: list[str]) -> np.ndarray:
        if len(words) != 2:
            raise ValueError("model handles two-word phrases")
        return np.flatnonzero(self._pair_docs(words[0], words[1], [1])
                              & self.live)

    def near_docs(self, a: str, b: str, slop: int) -> np.ndarray:
        deltas = [d for d in range(-slop, slop + 1) if d]
        return np.flatnonzero(self._pair_docs(a, b, deltas) & self.live)

    def composed(self, spec: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """``glob -neg "a b"``: a glob-term match, the phrase, no ``neg``;
        scored over the glob terms plus the phrase words."""
        glob, neg, a, b = spec
        gterms = self.glob_terms(glob)
        score, _ = self._scores(gterms + [a, b])
        _, ghits = self._scores(gterms)
        ok = (ghits > 0) & self._pair_docs(a, b, [1])
        neg_docs, _ = self._postings(neg)
        ok[neg_docs] = False
        return self._ranked(score, ok)


def check_ranked(got: list[tuple[int, float]], exp_ids: np.ndarray,
                 exp_scores: np.ndarray, k: int) -> str | None:
    """None when ``got`` (rank order) is the expected top-k, else why not.

    Rank-identical with scores within :data:`SCORE_TOL`; a doc may swap
    with another only when their expected scores tie (:data:`TIE_TOL`),
    which also covers ties across the rank-k boundary."""
    n = min(k, len(exp_ids))
    if len(got) != n:
        return f"{len(got)} rows, expected {n}"
    expected = dict(zip(exp_ids.tolist(), exp_scores.tolist()))
    seen: set[int] = set()
    for rank, (doc, score) in enumerate(got, 1):
        want = float(exp_scores[rank - 1])
        if doc in seen:
            return f"rank {rank}: doc {doc} repeated"
        seen.add(doc)
        if abs(score - want) > SCORE_TOL:
            return f"rank {rank}: score {score!r}, expected {want!r}"
        own = expected.get(doc)
        if own is None:
            return f"rank {rank}: doc {doc} does not match the query"
        if abs(own - want) > TIE_TOL:
            return (f"rank {rank}: doc {doc} (expected score {own!r}) "
                    f"where {int(exp_ids[rank - 1])} belongs")
    return None


def check_docs(got: list[int], expected: np.ndarray) -> str | None:
    """Exact doc-id set, in ascending order."""
    if got == expected.tolist():
        return None
    g, e = set(got), set(expected.tolist())
    if g == e:
        return f"{len(got)} docs in the wrong order"
    return (f"{len(g - e)} unexpected and {len(e - g)} missing docs "
            f"of {len(e)}")
