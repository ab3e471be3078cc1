"""Output checks for every timed operation, run outside the timed region.

``Oracle`` scores exhaustively over the raw page tokens with the
``index.bm25`` contract (``bm25_oracle_topk`` semantics: Lucene BM25,
k1=1.2, b=0.75, ties by ascending doc id). The per-term occurrence
arrays are built once per corpus, so checking a query costs one pass
over its terms' occurrences, not a pass over every document.

Index state is passed as a ``View``: which docs are ingested, which are
tombstoned, and whether the index was compacted since. Before
compaction, tombstoned docs still count in N, avgdl and df (Lucene's
behaviour for an index with deletes); they are never hits.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from logsentinelai_spark.functions.tokenizer import tokens
from logsentinelai_spark.index.bm25 import B, K1, idf

ROOT = Path(__file__).resolve().parent.parent
_SHIFT = np.int64(1 << 32)


@dataclass
class View:
    stat: np.ndarray  # docs counted in N / avgdl / df
    hit: np.ndarray   # docs that may be returned


class Oracle:
    def __init__(self, doc_tokens: list[list[str]], doc_ids: np.ndarray):
        """``doc_tokens[i]`` are the tokens of the doc whose index doc id
        is ``doc_ids[i]``."""
        self.ids = np.asarray(doc_ids, dtype=np.int64)
        self.dl = np.array([len(t) for t in doc_tokens], dtype=np.float64)
        vocab: dict[str, int] = {}
        tid = np.fromiter(
            (vocab.setdefault(t, len(vocab)) for toks in doc_tokens for t in toks),
            dtype=np.int64, count=int(self.dl.sum()))
        doc = np.repeat(np.arange(len(doc_tokens), dtype=np.int64),
                        self.dl.astype(np.int64))
        starts = np.concatenate(([0], np.cumsum(self.dl.astype(np.int64))[:-1]))
        pos = np.arange(len(tid), dtype=np.int64) - np.repeat(starts, self.dl.astype(np.int64))
        order = np.argsort(tid, kind="stable")
        self.occ_doc, self.occ_pos = doc[order], pos[order]
        sorted_tid = tid[order]
        self.vocab = vocab
        self.bounds = np.searchsorted(sorted_tid, np.arange(len(vocab) + 1))
        self.terms = sorted(vocab)

    def view(self, visible=None, deleted=None, compacted=False) -> View:
        vis = np.ones(len(self.ids), bool) if visible is None else visible
        dead = np.zeros(len(self.ids), bool) if deleted is None else deleted
        hit = vis & ~dead
        return View(stat=hit if compacted else vis, hit=hit)

    # ---- postings
    def _occ(self, term: str, v: View):
        t = self.vocab.get(term)
        if t is None:
            e = np.empty(0, np.int64)
            return e, e
        s, e = self.bounds[t], self.bounds[t + 1]
        d, p = self.occ_doc[s:e], self.occ_pos[s:e]
        m = v.stat[d]
        return d[m], p[m]

    def _postings(self, term: str, v: View):
        d, _ = self._occ(term, v)
        return np.unique(d, return_counts=True)

    def _stats(self, v: View):
        n = int(v.stat.sum())
        return n, float(self.dl[v.stat].sum()) / n

    def _rank(self, docs: np.ndarray, scores: np.ndarray, v: View):
        m = v.hit[docs]
        docs, scores = docs[m], scores[m]
        gid = self.ids[docs]
        order = np.lexsort((gid, -scores))
        return [(int(gid[i]), float(scores[i])) for i in order]

    # ---- query kinds (each returns the FULL ranking)
    def match(self, text: str, v: View):
        n, avgdl = self._stats(v)
        acc = np.zeros(len(self.ids))
        touched = np.zeros(len(self.ids), bool)
        for t in sorted(set(tokens(text))):
            d, tf = self._postings(t, v)
            if not len(d):
                continue
            w = idf(n, len(d))
            acc[d] += w * tf / (tf + K1 * (1 - B + B * self.dl[d] / avgdl))
            touched[d] = True
        docs = np.flatnonzero(touched)
        return self._rank(docs, acc[docs], v)

    def bool(self, must: str, should: str, must_not: str, v: View):
        mset, sset, nset = set(tokens(must)), set(tokens(should)), set(tokens(must_not))
        if mset & nset:
            return []
        sset -= nset
        post = {t: self._postings(t, v) for t in mset | sset | nset}
        if not (mset | sset) or any(not len(post[t][0]) for t in mset):
            return []
        n, avgdl = self._stats(v)
        acc = np.zeros(len(self.ids))
        touched = np.zeros(len(self.ids), bool)
        must_cnt = np.zeros(len(self.ids), np.int64)
        for t in sorted(mset | sset):
            d, tf = post[t]
            if not len(d):
                continue
            acc[d] += idf(n, len(d)) * tf / (tf + K1 * (1 - B + B * self.dl[d] / avgdl))
            touched[d] = True
            if t in mset:
                must_cnt[d] += 1
        keep = touched & (must_cnt == len(mset))
        for t in nset:
            keep[post[t][0]] = False
        docs = np.flatnonzero(keep)
        return self._rank(docs, acc[docs], v)

    def _phrase_keys(self, fixed: list[str], v: View):
        keys = None
        for j, t in enumerate(fixed):
            d, p = self._occ(t, v)
            m = p >= j
            kj = np.unique(d[m] * _SHIFT + (p[m] - j))
            keys = kj if keys is None else np.intersect1d(keys, kj, assume_unique=True)
        return keys

    def _phrase_rank(self, keys, v: View):
        if keys is None or not len(keys):
            return []
        docs, ptf = np.unique(keys // _SHIFT, return_counts=True)
        m = v.hit[docs]
        docs, ptf = docs[m], ptf[m]
        if not len(docs):
            return []
        n, avgdl = self._stats(v)
        w = idf(n, len(docs))
        scores = w * ptf / (ptf + K1 * (1 - B + B * self.dl[docs] / avgdl))
        return self._rank(docs, scores, v)

    def phrase(self, text: str, v: View):
        toks = tokens(text)
        return self._phrase_rank(self._phrase_keys(toks, v) if toks else None, v)

    def phrase_prefix(self, text: str, v: View, max_terms: int = 50):
        toks = tokens(text)
        fixed, prefix = toks[:-1], toks[-1]
        hi = prefix + "{"
        lo_i = np.searchsorted(self.terms, prefix)
        cands = []
        for t in self.terms[lo_i:]:
            if t >= hi:
                break
            df = len(self._postings(t, v)[0])
            if df:
                cands.append((t, df))
        exp = [t for t, _ in sorted(cands, key=lambda p: (-p[1], p[0]))[:max_terms]]
        if not exp:
            return []
        keys = self._phrase_keys(fixed, v)
        L = len(fixed)
        parts = []
        for t in exp:
            d, p = self._occ(t, v)
            m = p >= L
            parts.append(d[m] * _SHIFT + (p[m] - L))
        last = np.unique(np.concatenate(parts))
        return self._phrase_rank(np.intersect1d(keys, last, assume_unique=True), v)

    def body(self, body: dict, v: View):
        """Full ranking for a ``_search`` body of a kind the benchmark
        draws, with ``search_after`` applied."""
        kind, spec = next(iter(body["query"].items()))
        text = next(iter(spec.values())) if kind != "bool" else None
        if kind == "match":
            ranked = self.match(text, v)
        elif kind == "bool":
            ranked = self.bool(spec.get("must", ""), spec.get("should", ""),
                               spec.get("must_not", ""), v)
        elif kind == "match_phrase":
            ranked = self.phrase(text, v)
        elif kind == "match_phrase_prefix":
            ranked = self.phrase_prefix(text, v)
        else:
            raise ValueError(kind)
        after = body.get("search_after")
        if after:
            s_c, d_c = float(after[0]), int(after[1])
            tol = 1e-9 * max(1.0, abs(s_c))
            ranked = [(d, s) for d, s in ranked
                      if s < s_c - tol or (abs(s - s_c) <= tol and d > d_c)]
        return ranked


def same_hits(got, ranked, k: int) -> bool:
    """``got`` (engine hits) is rank-identical to the first ``k`` of the
    oracle's full ranking: same length, |Δscore| ≤ 1e-6 position by
    position, and the same doc at each position unless the oracle has a
    tie there (then any doc of that tie group is accepted)."""
    want = ranked[:k]
    got = [(int(d), float(s)) for d, s in got]
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > 1e-6:
            return False
        if gd != wd:
            tol = 1e-9 * max(1.0, abs(ws))
            if gd not in {d for d, s in ranked if abs(s - ws) <= tol}:
                return False
    return True


def doc_ids_for(urls: list[str], doc_lo: int) -> dict[str, int]:
    """The doc id contract (``index.docids``): rank of the url in the
    url-sorted snapshot, offset by the snapshot's first id."""
    return {u: doc_lo + i for i, u in enumerate(sorted(urls))}


# ---- analytics: DuckDB over the same replica, compared the way
# scripts/check_oracle.py compares (row count, column names, value hash)
def _value_hash():
    sys.path.insert(0, str(ROOT / "scripts"))
    from check_oracle import value_hash

    return value_hash


def sql_expected(sf_dir: str, sqls: list[str]) -> list[tuple]:
    """(row count, sorted column names, value hash) of each oracle SQL
    on DuckDB over the replica's tables."""
    import duckdb

    value_hash = _value_hash()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in ("documents", "events", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = []
        for sql in sqls:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out.append((len(rows), sorted(cols), value_hash(cols, rows)))
        return out
    finally:
        con.close()


def same_result(expected: tuple, cols: list[str], rows: list[tuple]) -> bool:
    n, ocols, h = expected
    return len(rows) == n and sorted(cols) == ocols and _value_hash()(cols, rows) == h
