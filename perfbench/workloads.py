"""The workloads: set-up, one timed pass, and output checks.

Each workload is a class with the same steps:

* ``warmup()``   untimed, once per process, before the set-ups.
* ``setup(i)``   builds everything a pass needs (run several times; the
  median CPU time at the reference host speed is ``setup_s``). The
  state of the last set-up is used.
  Then ``warm_passes`` untimed passes run on it (outputs checked).
* ``run_pass(state, n)``  one pass over the workload's fixed operation
  list; every operation's wall and output are recorded.
* ``check(state, passes)``  compares every recorded output with its
  oracle, outside the timed region; returns (attempted, failed).
* ``index_dir(state, passes)``  the index whose bytes per posting are
  reported.

The client is a closed loop with one client: the next operation starts
when the previous one returned.
"""

from __future__ import annotations

import json
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

from logsentinelai_spark.functions.tokenizer import tokens
from logsentinelai_spark.index import body as body_mod
from logsentinelai_spark.index import build as build_mod
from logsentinelai_spark.index import compact as compact_mod
from logsentinelai_spark.index import deletes as deletes_mod
from logsentinelai_spark.index import query as query_mod
from logsentinelai_spark.index import termdict as termdict_mod
from logsentinelai_spark.index.lineage import resolve_index_dir
from logsentinelai_spark.index.reader import IndexReader

from . import gen
from .oracle import Oracle, doc_ids_for, same_hits, same_result, sql_expected
from .spans import SpeedProbe, TreeCpu

# Sizes. SMOKE is the self-check's tiny corpus. ``local``/``spark``/
# ``batch``: the search phase's locally served bodies, Spark-served
# bodies and topk_many batch size, per pass.
SIZES = {
    "ingest": dict(base=3_000, snapshots=[300, 300], delete_frac=0.01,
                   local=128, spark=1, batch=16),
    "analytics": dict(docs=500, events=10_000, users=150, embeddings=500),
}
SMOKE = {
    "ingest": dict(base=600, snapshots=[100, 100], delete_frac=0.01,
                   local=16, spark=1, batch=4),
    "analytics": dict(docs=500, events=1_000, users=15, embeddings=500),
}

# Registry keys of the analytics workload, one per group of the module
# they exercise: a fixed subset of entry_queries.QUERIES, because one
# pass over all 97 keys does not fit a run's time budget (README.md).
ANALYTICS_QUERIES = {
    "naive": "bm25_topk",
    "index": "bm25_page2_idx",
    "textstats": "lang_id",
    "dedup": "dedup_exact",
    "similarity": "embedding_neardup",
    "geo": "geo_enrich",
    "aggtree": "events_agg_tree",
    "multimodal": "multimodal_meta",
}

# bodies of one probe round (after every write step)
PROBE_CLASSES = ("match_common", "match_common", "match_rare", "match_rare",
                 "match_mixed", "match_oov", "bool", "phrase")


@dataclass
class Op:
    kind: str
    cls: str
    wall_s: float
    cpu_s: float  # all processes of the run (spans.TreeCpu)
    kernel: list  # reference-kernel CPU times around it (spans.SpeedProbe)
    out: object = None
    ctx: object = None

    @property
    def ref_cpu_s(self) -> float:
        return self.cpu_s * SpeedProbe.REF_S / statistics.median(self.kernel)


class OpError:
    def __init__(self, exc: Exception):
        self.exc = exc


@dataclass
class Pass:
    wall_s: float
    ops: list[Op] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    @property
    def ref_cpu_s(self) -> float:
        """The pass's CPU time at the reference host speed, scaled by
        the median of all the kernel runs around its operations: long
        Spark operations are followed by some JVM and worker activity
        that can slow the kernel runs right after them, and a pass-wide
        median keeps that out (five seeds of ingest on a 4-vCPU VM: spread
        0.03–0.04, against 0.08 with each operation scaled on its own)."""
        kernel = [k for op in self.ops for k in op.kernel]
        return (sum(op.cpu_s for op in self.ops) * SpeedProbe.REF_S
                / statistics.median(kernel))


def _hit_counts(kind: str, out) -> dict:
    if kind == "batch":
        return {"queries": len(out), "hits": sum(len(h) for h in out)}
    if isinstance(out, dict) and "hits" in out:
        return {"queries": 1, "hits": len(out["hits"])}
    return {}


class Workload:
    read_kinds: tuple = ()
    n_setups = 3
    warm_passes = 0
    min_passes = 1
    probe_n = 2  # reference-kernel runs before and after each operation

    def __init__(self, ctx, sizes: dict):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sizes = sizes
        # outputs checked during set-up (the analytics cold pass)
        self.setup_attempted = 0
        self.setup_failed = 0

    def warmup(self) -> None:
        """Untimed, once per process, before the set-ups."""

    def measured(self, fn):
        """Run ``fn()``; returns its result, its wall seconds, the CPU
        seconds all processes of the run spent meanwhile, and the CPU
        times of reference-kernel runs right before and right after
        ``fn`` (one more run per 0.2 s of it, up to 20)."""
        probe = self.ctx.probe
        ref = probe.sample(self.probe_n)
        c0 = TreeCpu.start()
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        cpu_s = TreeCpu.stop(c0)
        ref += probe.sample(self.probe_n + min(20, int(wall / 0.2)))
        return out, wall, cpu_s, ref

    def op(self, ops: list, kind: str, cls: str, fn, ctx=None):
        """Run one timed operation; its output is consumed inside. An
        exception is recorded as the operation's output (a failure)."""
        tr, span = self.ctx.tracer, None

        def call():
            nonlocal span
            with (tr.operation(kind, cls) if tr else nullcontext()) as span:
                try:
                    return fn()
                except Exception as e:  # counted in `failed`, the run goes on
                    traceback.print_exc()
                    return OpError(e)

        out, wall, cpu_s, kernel = self.measured(call)
        if span is not None:
            span.update(_hit_counts(kind, out))
        ops.append(Op(kind, cls, wall, cpu_s, kernel, out, ctx))
        return out

    def check_op(self, st: dict, op: Op) -> tuple[int, int]:
        """(attempted, failed) for one recorded operation."""
        if isinstance(op.out, OpError):
            return 1, 1
        try:
            return self._check(st, op)
        except Exception:  # a malformed output is a failed output
            traceback.print_exc()
            return 1, 1

    def check(self, st: dict, passes: list) -> tuple[int, int]:
        attempted = failed = 0
        for p in passes:
            a, f = self.check_pass(st, p)
            attempted, failed = attempted + a, failed + f
            for op in p.ops:
                a, f = self.check_op(st, op)
                attempted, failed = attempted + a, failed + f
        return attempted, failed

    def check_pass(self, st: dict, p) -> tuple[int, int]:
        return 0, 0

    def query_cpu_ms(self, passes: list) -> float:
        """``query_cpu_ms``: the median CPU time of a read operation,
        at the reference host speed."""
        return statistics.median(op.ref_cpu_s * 1000 for p in passes for op in p.ops
                                 if op.kind in self.read_kinds)


def _index_cfg(n_docs: int) -> build_mod.IndexConfig:
    return build_mod.IndexConfig(shard_size=max(1024, n_docs // 8),
                                 wave_shards=8, n_buckets=16, block_size=128)


def _check_search(oracle: Oracle, view, body: dict, out: dict, url_of: dict) -> bool:
    k = int(body.get("size", 10))
    if not same_hits(out["hits"], oracle.body(body, view), k):
        return False
    return all(out["urls"].get(d) == url_of.get(d) for d, _ in out["hits"])


# ------------------------------------------------------------------ ingest
class Ingest(Workload):
    """One pass: build, extend twice, tombstone ~1%, compact, with a
    probe round against the live index after every write step; then the
    search phase on the compacted index: a seeded ``_search`` mix served
    locally, one Spark-served body and one ``topk_many`` batch."""

    read_kinds = ("local",)
    n_setups = 2  # the run's time budget allows two

    def setup(self, i: int) -> dict:
        s = self.sizes
        d = self.ctx.work / f"ingest_setup{i}"
        sizes = [s["base"], *s["snapshots"]]
        pages = gen.write_pages(self.spark, d / "pages", self.ctx.seed, sum(sizes),
                                self.ctx.cpus * 2)
        slices = gen.page_slices(self.spark, pages, sizes)
        snaps = gen.read_texts(pages, sizes)
        # doc ids by the contract (index.docids, build.extend_index): url
        # rank within a snapshot; a new snapshot starts at the next shard
        # boundary above the previous high-water mark
        shard = _index_cfg(s["base"]).shard_size
        ids, url_of, toks, epoch_of, doc_lo, hw = [], {}, [], [], [], 0
        for e, (urls, texts) in enumerate(snaps):
            lo = -(-hw // shard) * shard
            m = doc_ids_for(urls, lo)
            ids += [m[u] for u in urls]
            url_of.update({v: u for u, v in m.items()})
            toks += [tokens(t) for t in texts]
            epoch_of += [e] * len(urls)
            doc_lo.append(lo)
            hw = lo + len(urls)
        oracle = Oracle(toks, np.array(ids))
        epoch_of = np.array(epoch_of)
        rng = np.random.default_rng([self.ctx.seed, 2])
        dels = sorted(int(x) for x in rng.choice(
            s["base"], size=max(1, int(s["delete_frac"] * sum(sizes))), replace=False))
        dead = np.isin(oracle.ids, dels)
        views = [oracle.view(epoch_of <= e) for e in range(len(sizes))]
        views += [oracle.view(None, dead), oracle.view(None, dead, compacted=True)]
        drawer = gen.BodyDrawer(toks[:s["base"]], self.ctx.seed)
        return dict(slices=slices, oracle=oracle, views=views, url_of=url_of,
                    doc_lo=doc_lo, drawer=drawer, dels=dels, root=d,
                    probes=[(c, drawer.body(c)) for c in PROBE_CLASSES])

    def warmup(self) -> None:
        """One tiny pass (its own pages and index), so the timed pass runs
        no code path for the first time in this process."""
        sizes = [300, 50]
        d = self.ctx.work / "ingest_warmup"
        pages = gen.write_pages(self.spark, d / "pages", self.ctx.seed, sum(sizes),
                                self.ctx.cpus)
        base, snap = gen.page_slices(self.spark, pages, sizes)
        idx = str(d / "idx")
        build_mod.build_index(self.spark, base, idx, _index_cfg(sizes[0]))
        build_mod.extend_index(self.spark, snap, idx)
        deletes_mod.delete_docs(idx, [0])
        compact_mod.compact_index(self.spark, idx)
        reader = IndexReader(self.spark, idx)
        termdict_mod.ensure_term_dict(self.spark, reader)
        match = {"query": {"match": {"text": "the of"}}}
        for body in (match,
                     {"query": {"bool": {"must": "the", "should": "of"}}},
                     {"query": {"match_phrase": {"text": "of the"}}},
                     {"query": {"match_phrase_prefix": {"text": "of th"}}}):
            body_mod.search_body(self.spark, reader, body)
        # a run's first pass serves a match body through Spark (gen.SPARK_CLASSES)
        body_mod.search_body(self.spark, reader, match, serving="spark")
        query_mod.topk_many(reader, ["the", "of"], k=10)

    def _probe_round(self, st: dict, ops: list, idx: str, stage: int) -> IndexReader:
        reader = self.op(ops, "reader_open", str(stage),
                         lambda: IndexReader(self.spark, idx))
        for cls, body in st["probes"]:
            self.op(ops, "local", cls,
                    lambda b=body: body_mod.search_body(self.spark, reader, b),
                    ctx=(stage, body))
        return reader

    def _search_items(self, st: dict) -> list:
        """The search phase's operations, in a seeded order; page-2
        bodies get their search_after cursor from the oracle's page 1."""
        s, dr = self.sizes, st["drawer"]
        final = st["views"][-1]
        items = [("local", c, b) for c, b in dr.pass_bodies(s["local"])]
        items += [("spark", c, b) for c, b in dr.spark_bodies(s["spark"])]
        items.append(("batch", "batch", dr.batch(s["batch"])))
        out = []
        for j in dr.rng.permutation(len(items)):
            kind, cls, b = items[int(j)]
            if cls == "page2":
                page1 = st["oracle"].body(b, final)[:10]
                if page1:
                    b = dict(b, search_after=[page1[-1][1], page1[-1][0]])
            out.append((kind, cls, b))
        return out

    def run_pass(self, st: dict, n: int) -> Pass:
        idx = str(st["root"] / f"idx_pass{n}")
        spark = self.spark
        items = self._search_items(st)
        ops: list[Op] = []
        t0 = time.perf_counter()
        base, *snaps = st["slices"]
        self.op(ops, "build", "build", lambda: build_mod.build_index(
            spark, base, idx, _index_cfg(self.sizes["base"])))
        self._probe_round(st, ops, idx, 0)
        for j, pages in enumerate(snaps, start=1):
            self.op(ops, "extend", "extend",
                    lambda p=pages: build_mod.extend_index(spark, p, idx), ctx=j)
            self._probe_round(st, ops, idx, j)
        stage = len(st["slices"])
        self.op(ops, "delete", "delete",
                lambda: deletes_mod.delete_docs(idx, st["dels"]))
        self._probe_round(st, ops, idx, stage)
        self.op(ops, "compact", "compact",
                lambda: compact_mod.compact_index(spark, idx))
        reader = self._probe_round(st, ops, idx, stage + 1)
        # search phase: the term dictionary (prefix expansion) is built
        # once per index generation, as its own operation
        self.op(ops, "term_dict", "term_dict",
                lambda: termdict_mod.ensure_term_dict(spark, reader))
        for kind, cls, b in items:
            if kind == "batch":
                self.op(ops, kind, cls,
                        lambda q=b: query_mod.topk_many(reader, q, k=10), ctx=b)
            else:
                self.op(ops, kind, cls, lambda x=b, s=kind: body_mod.search_body(
                    spark, reader, x, serving=s), ctx=(stage + 1, b))
        return Pass(time.perf_counter() - t0, ops, {"index": idx})

    def check_pass(self, st: dict, p: Pass) -> tuple[int, int]:
        """The index's recorded epoch offsets follow the id contract."""
        meta = json.loads((resolve_index_dir(p.info["index"]) / "_meta.json").read_text())
        return 1, int([int(e["doc_lo"]) for e in meta["epochs"]] != st["doc_lo"])

    def _check(self, st: dict, op: Op) -> tuple[int, int]:
        oracle, views, out = st["oracle"], st["views"], op.out
        if op.kind == "batch":
            bad = sum(not same_hits(got, oracle.match(q, views[-1]), 10)
                      for q, got in zip(op.ctx, out))
            return len(op.ctx), bad + (len(out) != len(op.ctx))
        if op.kind in ("local", "spark"):
            stage, body = op.ctx
            ok = _check_search(oracle, views[stage], body, out, st["url_of"])
        elif op.kind == "build":
            ok = out["n_docs"] == self.sizes["base"]
        elif op.kind == "extend":
            ok = out["new_docs"] == self.sizes["snapshots"][op.ctx - 1]
        elif op.kind == "delete":
            ok = out["newly_deleted"] == len(st["dels"])
        elif op.kind == "compact":
            ok = (out["live_docs"] == len(oracle.ids) - len(st["dels"])
                  and out["dropped_docs"] == len(st["dels"]))
        else:  # reader_open, term_dict: no output beyond not raising
            ok = True
        return 1, int(not ok)

    def index_dir(self, st, passes):
        return passes[-1].info["index"]


# --------------------------------------------------------------- analytics
class Analytics(Workload):
    """A fixed subset of the registry queries, warm, over a seeded
    replica; set-up generates the replica, computes the DuckDB oracle
    results and runs the cold pass (which builds the fixture index the
    ``_idx`` keys serve from)."""

    read_kinds = ("query",)
    probe_n = 5
    n_setups = 2  # each runs the cold pass; the run's time budget allows two
    # the JVM's JIT keeps speeding the registry queries up for the first
    # several passes over them (CPU per pass, after three set-ups: 7.3,
    # 7.1, 6.0, then 5.3-5.7 s); each set-up runs one pass too
    warm_passes = 3
    min_passes = 3

    def __init__(self, ctx, sizes):
        super().__init__(ctx, sizes)
        from logsentinelai_spark import entry_queries

        self.eq = entry_queries

    def setup(self, i: int) -> dict:
        s = self.sizes
        sf_dir = self.ctx.work / f"replica{i}"
        gen.write_replica(sf_dir, self.ctx.seed, s["docs"], s["events"], s["users"],
                          s["embeddings"])
        expected = sql_expected(str(sf_dir), [self.eq.ORACLES[k] for k in
                                              ANALYTICS_QUERIES.values()])
        expected = dict(zip(ANALYTICS_QUERIES.values(), expected))
        st = dict(sf_dir=str(sf_dir), expected=expected)
        a, f = self.check(st, [self.run_pass(st, -1)])
        self.setup_attempted += a
        self.setup_failed += f
        return st

    def run_pass(self, st: dict, n: int) -> Pass:
        ops: list[Op] = []
        t0 = time.perf_counter()
        for group, key in ANALYTICS_QUERIES.items():
            def q(key=key):
                df = self.eq.QUERIES[key](self.spark, st["sf_dir"])
                return df.columns, [tuple(r) for r in df.collect()]
            self.op(ops, "query", group, q, ctx=key)
        return Pass(time.perf_counter() - t0, ops)

    def query_cpu_ms(self, passes: list) -> float:
        """The mean CPU time of a registry key (a pass runs each key
        once), median over passes. The keys differ by up to 5x in cost,
        so a median over all keys' runs jumps between keys."""
        return statistics.median(p.ref_cpu_s * 1000 / len(p.ops) for p in passes)

    def _check(self, st: dict, op: Op) -> tuple[int, int]:
        cols, rows = op.out
        return 1, int(not same_result(st["expected"][op.ctx], cols, rows))

    def index_dir(self, st, passes):
        return self.eq._index_dir_for(self.spark, st["sf_dir"])


WORKLOADS = {"ingest": Ingest, "analytics": Analytics}
