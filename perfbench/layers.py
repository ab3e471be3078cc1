"""Per-layer metrics from a traced run.

``install`` wraps the layers' public entry points (the list below);
``layer_metrics`` turns the recorded spans into the per-layer metrics
named in BENCHMARK.json. Per-operation figures are means over the
timed phase's read operations (``Workload.read_kinds``); build figures
come from the timed phase's builds, or from set-up's when the workload
builds only there (analytics, through its ``_idx`` key). A layer that
does no work in a workload reads 0 there.
"""

from __future__ import annotations

import math
import statistics
import time
from collections import defaultdict
from pathlib import Path

from logsentinelai_spark.index import body, build, compact, deletes, query
from logsentinelai_spark.index.lineage import committed_waves, resolve_index_dir
from logsentinelai_spark.index.reader import IndexReader

from .gen import CLASS_SHARES
from .workloads import ANALYTICS_QUERIES

BLOB_COLS = ("gaps_vb", "tfs_vb", "dls_vb", "pos_vb")


def _parquet_files(root: Path) -> int:
    return sum(1 for _ in root.rglob("*.parquet")) if root.exists() else 0


def _build_count(a, kw, out) -> dict:
    live = resolve_index_dir(str(a[2] if len(a) > 2 else kw["index_dir"]))
    waves = committed_waves(str(live))
    built = [waves[w] for w in out.get("built_waves", []) if w in waves]

    def stage(k):
        return sum(m["stage_elapsed_sec"].get(k, 0.0) for m in built)

    parts = [p for m in built for p in m["partitions"]]
    return dict(
        docs=out.get("new_docs", out["n_docs"]),
        doc_map_s=out.get("stage0_doc_map_sec", 0.0),
        wave_idmap_s=stage("wave_idmap"), stage1_s=stage("stage1_partial_runs"),
        merge_s=stage("stage2_salted_merge"), commit_s=stage("commit_metrics"),
        postings=sum(p["postings"] for p in parts),
        bytes=sum(p["bytes"] for p in parts),
        merge_ms=[p["elapsed_ms"] for p in parts],
        files=_parquet_files(live / "postings"))


def _compact_count(a, kw, out) -> dict:
    st = out["stage_elapsed_sec"]
    return dict(files_before=out["files_before"], files_after=out["files_after"],
                postings_s=st.get("compact_postings", 0.0),
                store_s=st.get("compact_store", 0.0))


def _blocks_count(a, kw, out) -> dict:
    blocks = out[out["block_id"] >= 0]
    nbytes = sum(int(blocks[c].dropna().map(len).sum())
                 for c in BLOB_COLS if c in blocks.columns)
    return dict(blocks=len(blocks), bytes=nbytes, postings=int(blocks["n"].sum()))


def install(tracer) -> None:
    tracer.wrap(body, "search_body", "body.search_body")
    tracer.wrap_public_functions(query, "query")
    for name in ("term_dfs_local", "postings_blocks", "doc_urls_local"):
        tracer.wrap(IndexReader, name, f"reader.{name}")
    tracer.wrap(IndexReader, "postings_blocks_local", "reader.postings_blocks_local",
                _blocks_count)
    tracer.wrap(query, "decode_stream", "codec.decode_stream",
                lambda a, kw, out: {"values": len(out)})
    tracer.wrap(query, "decode_single_block", "codec.decode_single_block",
                lambda a, kw, out: {"values": 3 * len(out[0])})
    tracer.wrap(build, "build_index", "build.build_index", _build_count)
    tracer.wrap(build, "extend_index", "build.extend_index", _build_count)
    tracer.wrap(compact, "compact_index", "compact.compact_index", _compact_count)
    tracer.wrap(deletes, "delete_docs", "deletes.delete_docs")


def functions_rates(seed: int) -> dict:
    """Driver-timed extract_arrow / tokens_arrow over a fixed sample
    batch of generated pages, MB/s of input (median of 5)."""
    import pyarrow as pa

    from logsentinelai_spark.corpus import gen_pages_pandas
    from logsentinelai_spark.functions.extract import extract_arrow
    from logsentinelai_spark.functions.tokenizer import tokens_arrow

    pdf = gen_pages_pandas(300, seed=seed)
    html = pa.array(pdf["html"].tolist(), pa.binary())
    text = extract_arrow(html)

    def rate(fn, arg, nbytes):
        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn(arg)
            walls.append(time.perf_counter() - t0)
        return nbytes / 1e6 / statistics.median(walls)

    return {"functions.extract_mb_per_s": rate(extract_arrow, html, html.nbytes),
            "functions.tokenize_mb_per_s": rate(tokens_arrow, text, text.nbytes)}


def tail_ms(values: list[float]) -> tuple[float, float]:
    """The highest percentile (capped at p99) with at least ten samples
    beyond it, nearest-rank; returns (percentile, value). Below 20
    samples no percentile above the median qualifies, and the maximum
    is returned."""
    xs = sorted(values)
    if len(xs) < 20:
        return 1.0, xs[-1]
    q = min(0.99, 1.0 - 10.0 / len(xs))
    return q, xs[math.ceil(q * len(xs)) - 1]


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def layer_metrics(tracer, read_kinds: tuple, n_passes: int) -> dict:
    tracer.self_times()
    tracer.spark_counts()
    spans = tracer.spans
    ops = [s for s in spans if s["name"].startswith("op.") and s["phase"] == "timed"]
    inner = defaultdict(list)
    for s in spans:
        if s["op"] and not s["name"].startswith("op."):
            inner[s["op"]].append(s)

    def of_kind(*kinds):
        return [o for o in ops if o["name"][3:] in kinds]

    def dur(s):
        return s["t1"] - s["t0"]

    def per_op(opset, prefix, field="self_s", scale=1000.0):
        total = sum(s.get(field, 0) for o in opset for s in inner[o["op"]]
                    if s["name"] == prefix
                    or (prefix.endswith(".") and s["name"].startswith(prefix)))
        return total * scale / len(opset) if opset else 0.0

    reads, sparks, batches = of_kind(*read_kinds), of_kind("spark"), of_kind("batch")
    m = {
        "body.self_ms": per_op(reads, "body."),
        "query.self_ms": per_op(reads, "query."),
        "reader.read_ms": per_op(reads, "reader.postings_blocks_local"),
        "reader.blocks_read": per_op(reads, "reader.postings_blocks_local", "blocks", 1),
        "reader.bytes_read": per_op(reads, "reader.postings_blocks_local", "bytes", 1),
        "reader.urls_ms": per_op(reads, "reader.doc_urls_local"),
        "codec.decode_ms": per_op(reads, "codec."),
        "codec.values_decoded": per_op(reads, "codec.", "values", 1),
    }
    m["query.tail_ms"] = tail_ms([dur(o) * 1000 for o in reads])[1] if reads else 0.0
    hits = sum(o.get("hits", 0) for o in reads)
    postings = per_op(reads, "reader.postings_blocks_local", "postings", 1) * len(reads)
    m["query.postings_per_hit"] = postings / hits if hits else 0.0
    for cls in CLASS_SHARES:
        m[f"search.p50_ms.{cls}"] = _median(
            [dur(o) * 1000 for o in reads if o.get("label") == cls])
    m["search.spark_p50_ms"] = _median([dur(o) * 1000 for o in sparks])
    m["reader.scan_plan_ms"] = per_op(sparks, "reader.postings_blocks")
    m["reader.df_ms"] = per_op(sparks, "reader.term_dfs_local")
    m["spark.jobs_per_query"] = _mean([o["jobs"] for o in sparks])
    m["spark.tasks_per_query"] = _mean([o["tasks"] for o in sparks])
    m["query.many_s"] = per_op(batches, "query.topk_many", "dur_s", 1)
    m["spark.tasks_per_batch"] = _mean([o["tasks"] for o in batches])
    nq = sum(o.get("queries", 0) for o in batches)
    m["search.batch_queries_per_s"] = nq / sum(dur(o) for o in batches) if batches else 0.0
    queries = of_kind("query")
    for group in ANALYTICS_QUERIES:
        m[f"analytics.{group}_s"] = sum(
            dur(o) for o in queries if o.get("label") == group) / n_passes
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = sum(o.get(k, 0) for o in ops) / n_passes
    for kind in ("build", "extend", "compact"):
        ks = of_kind(kind)
        m[f"spark.{kind}_jobs"] = _mean([o["jobs"] for o in ks])
        m[f"spark.{kind}_tasks"] = _mean([o["tasks"] for o in ks])

    def calls(name):
        cs = [s for s in spans if s["name"] == name]
        timed = [s for s in cs if s["phase"] == "timed"]
        return timed or cs

    builds = calls("build.build_index")
    m["build.docs_per_s"] = (sum(s["docs"] for s in builds) / sum(dur(s) for s in builds)
                             if builds else 0.0)
    for k in ("doc_map_s", "wave_idmap_s", "stage1_s", "merge_s", "commit_s"):
        m[f"build.{k}"] = _mean([s[k] for s in builds])
    merge_ms = [x for s in builds for x in s["merge_ms"]]
    med = _median(merge_ms)
    m["build.merge_skew"] = max(merge_ms) / med if med else 0.0
    m["build.postings"] = _mean([s["postings"] for s in builds])
    m["build.segment_bytes"] = _mean([s["bytes"] for s in builds])
    m["build.segment_files"] = _mean([s["files"] for s in builds])
    ext = calls("build.extend_index")
    m["extend.docs_per_s"] = (sum(s["docs"] for s in ext) / sum(dur(s) for s in ext)
                              if ext else 0.0)
    comp = calls("compact.compact_index")
    m["compact.wall_s"] = _mean([dur(s) for s in comp])
    for k in ("postings_s", "store_s", "files_before", "files_after"):
        m[f"compact.{k}"] = _mean([s[k] for s in comp])
    m["deletes.ms"] = _mean([dur(s) * 1000 for s in calls("deletes.delete_docs")])
    return m
