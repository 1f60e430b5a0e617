"""Answers re-derived from the generated text, never from the index.

The oracle runs the public analyzer (``text.normalize``) once per
distinct surface word of the generated corpus and keeps the resulting
term occurrences in numpy arrays. Scores follow the engine's documented
formulas:

* tf-idf: ``wqt = ln(1 + N/df)``, ``wdt = 1 + ln(tf)``, divided by
  ``L_d = sqrt(sum (1 + ln tf)^2)``;
* BM25: ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``, ``k1 = 1.2``,
  ``b = 0.75``, ``avgdl = total_tokens / N``;
* statistics (``N``, ``df``, token totals) include tombstoned documents
  until a compaction purges them, as for Lucene's live-docs; results
  never include a tombstoned document.

Top-k lists are compared with ties broken by doc_id, where two scores
within ``REL_TOL`` of each other count as tied, so a last-ulp difference
in summation order cannot fail a correct ranking.
"""

from __future__ import annotations

import math
import shlex

import numpy as np

from search_engine_spark.text.kgrams import kgrams, wildcard_grams
from search_engine_spark.text.normalize import analyze, query_normalize

REL_TOL = 1e-9
K1, B = 1.2, 0.75


class Oracle:
    def __init__(self) -> None:
        self.term_ids: dict[str, int] = {}
        self.surface_cache: dict[str, tuple[int, str]] = {}
        self.word_grams: dict[str, set[str]] = {}  # indexed raw word -> k-grams
        # one entry per term occurrence, in (doc, position) order
        self.occ_term = np.empty(0, np.int64)
        self.occ_doc = np.empty(0, np.int64)
        self.doc_ids = np.empty(0, np.int64)  # every doc ever indexed
        self.deleted: set[int] = set()
        self.compacted = False  # stats exclude tombstoned docs after compaction
        self._stats = None

    # ------------------------------------------------------------ ingest
    def _analyze_surface(self, word: str) -> tuple[int, str]:
        hit = self.surface_cache.get(word)
        if hit is None:
            out = analyze(word)
            if len(out) != 1:
                raise ValueError(f"generated word {word!r} analyzes to {out!r}")
            term, _pos, raw = out[0]
            tid = self.term_ids.setdefault(term, len(self.term_ids))
            hit = (tid, raw)
            self.surface_cache[word] = hit
            if raw not in self.word_grams:
                self.word_grams[raw] = kgrams(raw)
        return hit

    def add(self, texts: list[str], first_doc_id: int) -> None:
        """Index ``texts`` as docs ``first_doc_id, first_doc_id + 1, ...``."""
        terms, docs = [], []
        for i, text in enumerate(texts):
            for word in text.split():
                terms.append(self._analyze_surface(word)[0])
                docs.append(first_doc_id + i)
        self.occ_term = np.concatenate([self.occ_term, np.asarray(terms, np.int64)])
        self.occ_doc = np.concatenate([self.occ_doc, np.asarray(docs, np.int64)])
        new_ids = np.arange(first_doc_id, first_doc_id + len(texts), dtype=np.int64)
        self.doc_ids = np.concatenate([self.doc_ids, new_ids])
        self._stats = None

    def delete(self, ids) -> None:
        self.deleted.update(int(i) for i in ids)
        self._stats = None

    def compact(self) -> None:
        self.compacted = True
        self._stats = None

    @property
    def live_ids(self) -> np.ndarray:
        return np.array([d for d in self.doc_ids if d not in self.deleted], np.int64)

    # ------------------------------------------------------------ statistics
    def _build_stats(self):
        """Posting lists and per-doc weights over the docs that count."""
        term, doc = self.occ_term, self.occ_doc
        if self.compacted and self.deleted:
            keep = ~np.isin(doc, np.fromiter(self.deleted, np.int64))
            term, doc = term[keep], doc[keep]
            n_docs = int(np.sum(~np.isin(self.doc_ids, list(self.deleted))))
        else:
            n_docs = int(self.doc_ids.size)
        # positions: occurrence index within its doc (occurrences are in order)
        starts = np.flatnonzero(np.r_[True, doc[1:] != doc[:-1]])
        run_len = np.diff(np.r_[starts, doc.size])
        pos = np.arange(doc.size) - np.repeat(starts, run_len)
        n_terms = len(self.term_ids)
        ukey, tf = np.unique(term * (1 << 40) + doc, return_counts=True)
        p_term, p_doc = ukey >> 40, ukey & ((1 << 40) - 1)
        df = np.bincount(p_term, minlength=n_terms)
        t_start = np.r_[0, np.cumsum(df)]
        # per-doc L_d and token counts over a dense doc index
        max_doc = int(self.doc_ids.max()) + 1 if self.doc_ids.size else 1
        w2 = np.zeros(max_doc)
        np.add.at(w2, p_doc, (1.0 + np.log(tf)) ** 2)
        dl = np.bincount(doc, minlength=max_doc).astype(np.float64)
        self._stats = {
            "N": n_docs,
            "total_tokens": int(doc.size),
            "p_doc": p_doc,
            "tf": tf,
            "df": df,
            "t_start": t_start,
            "ld": np.sqrt(w2),
            "dl": dl,
            "max_doc": max_doc,
            # occurrences in (doc, position) order, for phrases
            "occ_term": term,
            "occ_doc": doc,
            "occ_pos": pos,
        }
        return self._stats

    @property
    def stats(self):
        return self._stats or self._build_stats()

    def _postings(self, term: str):
        s = self.stats
        tid = self.term_ids.get(term)
        if tid is None or tid >= s["df"].size or s["df"][tid] == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        lo, hi = s["t_start"][tid], s["t_start"][tid + 1]
        return s["p_doc"][lo:hi], s["tf"][lo:hi]

    def _live_mask(self) -> np.ndarray:
        s = self.stats
        mask = np.zeros(s["max_doc"], bool)
        mask[self.doc_ids] = True
        if self.deleted:
            mask[np.fromiter(self.deleted, np.int64)] = False
        return mask

    # ------------------------------------------------------------ ranked
    def ranked_scores(self, query: str, bm25: bool = False) -> dict[int, float]:
        """doc_id -> score over live docs matching any query term."""
        s = self.stats
        n = s["N"]
        acc = np.zeros(s["max_doc"])
        hit = np.zeros(s["max_doc"], bool)
        avgdl = s["total_tokens"] / n if n else 1.0
        for word in query.split():
            docs, tf = self._postings(query_normalize(word))
            if docs.size == 0:
                continue
            df = docs.size
            if bm25:
                idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                denom = tf + K1 * (1.0 - B + B * s["dl"][docs] / avgdl)
                acc[docs] += idf * (tf * (K1 + 1.0)) / denom
            else:
                wqt = math.log(1 + n / df)
                acc[docs] += wqt * (1.0 + np.log(tf))
            hit[docs] = True
        hit &= self._live_mask()
        ids = np.flatnonzero(hit)
        scores = acc[ids] if bm25 else acc[ids] / s["ld"][ids]
        return dict(zip(ids.tolist(), scores.tolist()))

    # ------------------------------------------------------------ boolean
    def _docs_with(self, term: str) -> set[int]:
        return set(self._postings(term)[0].tolist())

    def wildcard_expand(self, pattern: str) -> list[str]:
        grams = wildcard_grams(pattern)
        if not grams:
            return []
        return sorted(w for w, g in self.word_grams.items() if grams <= g)

    def _phrase_docs(self, terms: list[str]) -> set[int]:
        s = self.stats
        tids = [self.term_ids.get(t) for t in terms]
        if any(t is None for t in tids):
            return set()
        term, doc, pos = s["occ_term"], s["occ_doc"], s["occ_pos"]
        m = len(tids)
        n = term.size - (m - 1)
        if n <= 0:
            return set()
        ok = np.ones(n, bool)
        for i, tid in enumerate(tids):
            ok &= term[i : i + n] == tid
            ok &= doc[i : i + n] == doc[:n]
            ok &= pos[i : i + n] == pos[:n] + i
        return set(doc[:n][ok].tolist())

    def _literal_docs(self, literal: str) -> set[int] | None:
        try:
            conjuncts = shlex.split(literal)
        except ValueError:
            conjuncts = [literal]
        parts: list[set[int]] = []
        singles: list[str] = []
        for conjunct in conjuncts:
            words = conjunct.split()
            wildcards = [w for w in words if "*" in w]
            if wildcards:
                for w in wildcards:
                    expansion = self.wildcard_expand(w.lower())
                    if expansion:
                        parts.append(
                            set().union(*(self._docs_with(query_normalize(x)) for x in expansion))
                        )
                continue
            terms = [query_normalize(w) for w in words]
            if len(terms) > 1:
                parts.append(self._phrase_docs(terms))
            elif terms:
                singles.append(terms[0])
        if singles:
            parts.insert(0, set.intersection(*(self._docs_with(t) for t in set(singles))))
        if not parts:
            return None
        return set.intersection(*parts)

    def boolean(self, query: str) -> list[int]:
        hits: set[int] = set()
        for lit in query.split("+"):
            docs = self._literal_docs(lit.strip())
            if docs is not None:
                hits |= docs
        return sorted(hits - self.deleted)


def check_topk(result: list[tuple[int, float]], scores: dict[int, float], k: int) -> str | None:
    """None if ``result`` is a correct top-k of ``scores``, else why not.

    Correct means: every returned doc has its oracle score (to REL_TOL),
    the list is ordered by score desc then doc_id asc, it has
    ``min(k, len(scores))`` entries, and no omitted doc beats it — an
    omitted doc tied with the last entry must have a larger doc_id.
    """
    def close(a: float, b: float) -> bool:
        return abs(a - b) <= REL_TOL * max(abs(a), abs(b))

    want = min(k, len(scores))
    if len(result) != want:
        return f"{len(result)} results, expected {want}"
    for d, s in result:
        if d not in scores:
            return f"doc {d} is not a live match"
        if not close(s, scores[d]):
            return f"doc {d} score {s!r} != oracle {scores[d]!r}"
    for (d1, s1), (d2, s2) in zip(result, result[1:]):
        if not (s1 > s2 and not close(s1, s2)) and not (close(s1, s2) and d1 < d2):
            return f"order violated between docs {d1} and {d2}"
    if not result:
        return None
    returned = {d for d, _ in result}
    d_last, s_last = result[-1]
    for d, s in scores.items():
        if d in returned:
            continue
        if s > s_last and not close(s, s_last):
            return f"doc {d} (score {s!r}) missing from top-{k}"
        if close(s, s_last) and d < d_last:
            return f"doc {d} ties the last score but has a smaller doc_id"
    return None
