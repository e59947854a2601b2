"""Host-capability baseline for the scaling argument.

Runs the EXACT kernel workload of the pipeline's signature stage (canonical
normalize -> shingle -> MinHash over the bench corpus's assembled documents)
with plain multiprocessing at 1 / 2 / 4 / 8 / 32 workers — no Spark, no shuffles, no
JVM.  Whatever speedup THIS shows is the host's ceiling for the workload;
Spark cannot scale past the substrate.  Interleaved repeats, minima reported
(host shows phase-like throttling).

Writes data/host_baseline.json, the host context for the scaling pairs of
tools/submit_scaling.py.

Usage: python tools/host_baseline.py [repeats]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OUT = os.path.join(ROOT, "data", "host_baseline.json")
LEVELS = (1, 2, 4, 8, 32)
N_CHUNKS = 32  # fixed task granularity, same at every level (like Spark partitions)


def _prepare_chunks() -> list[list[str]]:
    import pandas as pd

    from bibexpy_spark import corpus, oracle

    path = corpus.write_parquet(
        os.path.join(ROOT, "data", "transcripts_bench.parquet"), 120_000, seed=43
    )
    conv = oracle.assemble(pd.read_parquet(path))
    docs = conv["doc"].tolist()
    size = (len(docs) + N_CHUNKS - 1) // N_CHUNKS
    return [docs[i : i + size] for i in range(0, len(docs), size)]


def _work(docs: list[str]) -> int:
    import pandas as pd

    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.functions import kernels

    norm = kernels.normalize_text(pd.Series(docs), CANONICAL)
    sh = kernels.shingle_sets(norm, CANONICAL)
    sig = kernels.minhash_signatures(sh, CANONICAL)
    return int(sig.shape[0])  # touch the result; uint64 & int is unsafe in numpy


def main() -> None:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    chunks = _prepare_chunks()
    walls: dict[int, list[float]] = {n: [] for n in LEVELS}
    ctx = mp.get_context("fork")
    for _ in range(repeats):
        for n in LEVELS:  # interleaved across levels each round
            t0 = time.time()
            with ctx.Pool(n) as pool:
                pool.map(_work, chunks)
            walls[n].append(time.time() - t0)
    best = {n: min(ws) for n, ws in walls.items()}
    result = {
        "workload": "canonical normalize+shingle+minhash, 32 chunks, "
                    "120k-conversation bench corpus",
        "levels": {
            str(n): {"best_s": round(best[n], 2),
                     "all_runs_s": [round(w, 2) for w in walls[n]]}
            for n in LEVELS
        },
        "host_speedup_1_to_4": round(best[1] / best[4], 3) if 1 in best and 4 in best else None,
        "host_speedup_2_to_8": round(best[2] / best[8], 3),
        "host_speedup_8_to_32": round(best[8] / best[32], 3),
    }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
