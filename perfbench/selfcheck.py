"""Smoke-size self-check of the benchmark.

    python3 perfbench/selfcheck.py

1. The vectorised oracle (oracle.Oracle) ranks exactly like the
   reference oracle ``index.bm25.bm25_oracle_topk`` on a small corpus.
2. Every workload runs on a tiny corpus, untraced and traced, exits 0,
   checks its outputs with no failure, and prints every metric that
   BENCHMARK.json names, each with its unit.

Takes a few minutes (two Spark sessions per workload).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def check_oracle() -> None:
    import numpy as np

    from logsentinelai_spark.corpus import gen_text
    from logsentinelai_spark.functions.tokenizer import tokens
    from logsentinelai_spark.index.bm25 import bm25_oracle_topk
    from perfbench.oracle import Oracle, same_hits

    docs = [tokens(gen_text(i, seed=5)[0]) for i in range(300)]
    ids = np.arange(300)[::-1].copy()  # doc ids need not follow list order
    oracle = Oracle(docs, ids)
    ref_docs = {int(d): t for d, t in zip(ids, docs)}
    for q in ("the", "of and", "term0100 the", "page crawl index", "zzqx vvwk"):
        want = bm25_oracle_topk(ref_docs, tokens(q), k=10)
        assert same_hits(want, oracle.match(q, oracle.view()), 10), q
    print("oracle: rank-identical to bm25_oracle_topk on 5 queries")


def check_workload(workload: str, trace: int, spec: dict) -> None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, (cmd, p.stderr[-3000:])
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    want = spec["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    assert set(got) == {m["name"] for m in want}, set(got) ^ {m["name"] for m in want}
    for m in want:
        v = got[m["name"]]
        assert v["unit"] == m["unit"] and isinstance(v["value"], float), (m, v)
    print(f"{workload} trace={trace}: {len(got)} metrics, "
          f"{res['attempted']} outputs checked, 0 failed")


def main() -> int:
    sys.path[0] = str(ROOT)
    check_oracle()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_workload(w["name"], trace, spec)
    print("self-check passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
