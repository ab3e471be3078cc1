"""Seeded inputs for the workloads.

Every input is a function of ``--seed``; the engine receives only what
these functions write. Pages come from ``corpus.gen_pages_df``, search
bodies are drawn from the generated pages' own tokens (so phrases and
prefixes hit), and the analytics replica comes from the generators in
``scripts/gen_sf_replica.py``.
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

import numpy as np
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from logsentinelai_spark.corpus import gen_pages_df

ROOT = Path(__file__).resolve().parent.parent

# Body classes of ingest's search phase and their shares of its locally
# served bodies (the shares are part of the workload definition).
CLASS_SHARES = {
    "match_common": 0.20,
    "match_rare": 0.15,
    "match_mixed": 0.10,
    "match_oov": 0.05,
    "bool": 0.15,
    "phrase": 0.15,
    "phrase_prefix": 0.10,
    "page2": 0.10,
}
SPARK_CLASSES = ("match_common", "bool", "phrase")


def _page_no():
    return F.expr("cast(substring_index(url, '/', -1) as long)")


def write_pages(spark, out: Path, seed: int, total: int, partitions: int) -> str:
    """Generate ``total`` pages with ``gen_pages_df`` and materialize them
    as parquet (the engine's input is a table on storage)."""
    gen_pages_df(spark, total, seed=seed, partitions=partitions).write.parquet(str(out))
    return str(out)


def _bounds(sizes: list[int]) -> list[tuple[int, int]]:
    ends = np.cumsum(sizes)
    return [(int(e - n), int(e)) for n, e in zip(sizes, ends)]


def page_slices(spark, pages_dir: str, sizes: list[int]):
    """Disjoint page-number slices of a pages table, as DataFrames: the
    base snapshot first, then each new-page snapshot (new urls only)."""
    pages = spark.read.parquet(pages_dir)
    return [pages.filter(_page_no().between(lo, hi - 1)) for lo, hi in _bounds(sizes)]


def read_texts(pages_dir: str, sizes: list[int]) -> list[tuple[list[str], list[str]]]:
    """(urls, texts) of each slice of ``page_slices``, driver-local."""
    t = pads.dataset(pages_dir, format="parquet").to_table(columns=["url", "text"])
    urls, texts = t.column("url").to_pylist(), t.column("text").to_pylist()
    no = np.array([int(u.rsplit("/", 1)[1]) for u in urls])
    out = []
    for lo, hi in _bounds(sizes):
        idx = np.flatnonzero((no >= lo) & (no < hi))
        out.append(([urls[i] for i in idx], [texts[i] for i in idx]))
    return out


class BodyDrawer:
    """Draws ``_search`` bodies from a corpus's own tokens."""

    def __init__(self, doc_tokens: list[list[str]], seed: int):
        self.rng = np.random.default_rng([seed, 1])
        self._counters: dict[str, int] = {}
        self.docs = doc_tokens
        df: dict[str, int] = {}
        for toks in self.docs:
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
        ascii_terms = sorted(t for t in df if t.isascii() and t.isalnum())
        by_df = sorted(ascii_terms, key=lambda t: (-df[t], t))
        self.common = by_df[:50]
        self.rare = [t for t in by_df if 2 <= df[t] <= 20] or by_df[-50:]

    def _pick(self, seq, n=1):
        idx = self.rng.choice(len(seq), size=n, replace=False)
        return [seq[int(i)] for i in idx]

    def _window(self, n: int) -> list[str]:
        """n consecutive ASCII tokens from a random doc."""
        while True:
            toks = self.docs[int(self.rng.integers(len(self.docs)))]
            if len(toks) <= n:
                continue
            s = int(self.rng.integers(len(toks) - n))
            w = toks[s:s + n]
            if all(t.isascii() for t in w):
                return w

    def _next(self, key: str, period: int) -> int:
        """Round-robin counter: term counts and phrase lengths cycle
        instead of being drawn, so the work per pass varies less by seed."""
        n = self._counters.get(key, 0)
        self._counters[key] = n + 1
        return n % period

    def text(self, cls: str) -> str:
        k = 1 + self._next(cls, 3)
        if cls == "match_common":
            return " ".join(self._pick(self.common, k))
        if cls == "match_rare":
            return " ".join(self._pick(self.rare, k))
        if cls == "match_mixed":
            return f"{self._pick(self.common)[0]} {self._pick(self.rare)[0]}"
        n = int(self.rng.integers(1000))
        return f"zzqx{n:03d} vvwk{n:03d}"

    def body(self, cls: str) -> dict:
        if cls.startswith("match_"):
            return {"query": {"match": {"text": self.text(cls)}}, "size": 10}
        if cls == "bool":
            must = self._pick(self.common)[0]
            should = " ".join(self._pick(self.rare, 2))
            bad = self._pick(self.rare)[0]
            return {"query": {"bool": {"must": must, "should": should,
                                       "must_not": bad}}, "size": 10}
        if cls == "phrase":
            w = self._window(2 + self._next("phrase", 2))
            return {"query": {"match_phrase": {"text": " ".join(w)}}, "size": 10}
        if cls == "phrase_prefix":
            w = self._window(2)
            last = w[-1]
            pre = last[:max(2, (len(last) + 1) // 2 + 1)]
            return {"query": {"match_phrase_prefix": {
                "text": f"{w[0]} {pre}"}}, "size": 10}
        raise ValueError(cls)

    def pass_bodies(self, n_local: int) -> list[tuple[str, dict]]:
        """One pass's locally served bodies, class counts fixed by
        CLASS_SHARES, order shuffled. ``page2`` entries carry a match
        body; the workload turns it into a search_after page 2."""
        out = []
        for cls, share in CLASS_SHARES.items():
            c = "match_common" if cls == "page2" else cls
            out += [(cls, self.body(c)) for _ in range(max(1, round(share * n_local)))]
        order = self.rng.permutation(len(out))
        return [out[int(i)] for i in order]

    def spark_bodies(self, n: int) -> list[tuple[str, dict]]:
        return [(c, self.body(c)) for c in
                (SPARK_CLASSES[self._next("spark", len(SPARK_CLASSES))] for _ in range(n))]

    def batch(self, n: int) -> list[str]:
        classes = ("match_common", "match_rare", "match_mixed")
        return [self.text(classes[i % 3]) for i in range(n)]


def write_replica(out: Path, seed: int, docs: int, events: int, users: int,
                  embeddings: int) -> None:
    """The analytics replica: documents, events and embeddings from the
    ``scripts/gen_sf_replica.py`` generators, driven by
    ``random.Random(seed)``. The star-schema tables are not written:
    no registry query reads them."""
    sys.path.insert(0, str(ROOT / "scripts"))
    import gen_sf_replica as g

    out.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    g.gen_documents(str(out), docs, rng)
    g.gen_events(str(out), events, users, rng)
    g.gen_embeddings(str(out), embeddings, rng)
