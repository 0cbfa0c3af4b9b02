"""Round-6 measurement harness (guide §1): noop-sink isolation and
per-stage attribution for the expensive operators, at BOTH the bench sf
and a driver-escalation-shaped corpus (the round-5 driver measurement ran
at sf=1.0, where minhash dominates the suite: 24.3s of 30.4s).

bench.py is FROZEN for measurement; this file exists so extra evidence
(stage splits, sf1.0-shaped corpora, A/Bs of internals) never touches it.

Usage:
  python bench_extra.py minhash [n_docs]   # fused-minhash stage profile
  python bench_extra.py suite_sf1          # headline queries on an
                                           # sf1.0-shaped docs corpus
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd


def sf1_like_docs(spark, n: int, cache_dir: str = "/tmp/spark_graft_r6_cache"):
    """Deterministic documents corpus with the SAME statistical shape as
    the driver's sf tables (measured on /root/testdata/sf0.1: 31-word
    vocabulary, ~50 words/doc, ~204 unique 5-gram shingles/doc over a
    ~2k-shingle universe, mean pairwise Jaccard 0.17, ~0.5% of pairs
    near-duplicates) scaled to n rows.  sf1.0 == n=50_000."""
    path = os.path.join(cache_dir, f"docs_sf1like_n{n}.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path)

    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.1/documents.parquet")
    vocab = sorted({w for s in t["text"].to_pylist() for w in s.split()})
    wc = [len(s.split()) for s in t["text"].to_pylist()]
    lo, hi = min(wc), max(wc)

    chunk = max(5_000, n // 64)
    sdf = spark.createDataFrame(
        [(s, min(chunk, n - s)) for s in range(0, n, chunk)], "start long, cnt long"
    ).repartition(64)
    varr = np.array(vocab)

    def gen(it):
        for pdf in it:
            for s, c in zip(pdf["start"], pdf["cnt"]):
                s, c = int(s), int(c)
                rng = np.random.default_rng(4242 + s)
                nw = rng.integers(lo, hi + 1, c)
                texts = [" ".join(varr[rng.integers(0, len(varr), k)]) for k in nw]
                # near-dup structure like the sf tables: ~5% of docs are
                # a 1-2 word edit of an earlier doc in the chunk
                dup = np.flatnonzero(rng.random(c) < 0.05)
                for i in dup:
                    j = int(rng.integers(0, max(int(i), 1)))
                    w = texts[j].split()
                    for _ in range(int(rng.integers(1, 3))):
                        w[int(rng.integers(0, len(w)))] = varr[int(rng.integers(0, len(varr)))]
                    texts[i] = " ".join(w)
                yield pd.DataFrame(
                    {"doc_id": np.arange(s, s + c, dtype=np.int64), "text": texts}
                )

    sdf.mapInPandas(gen, "doc_id long, text string").write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def profile_minhash(n_docs: int = 50_000) -> None:
    from augdiff_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from augdiff_pipeline_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", cores=cpus,
                      shuffle_partitions=max(2 * cpus, 16))
    docs = sf1_like_docs(spark, n_docs)

    # warm python workers
    docs.limit(10).mapInPandas(lambda it: (p.iloc[:0] for p in it), docs.schema).count()

    reps = []
    n_pairs = None
    for i in range(int(os.environ.get("REPEAT", "3"))):
        spark.sparkContext.setJobDescription(f"minhash fused rep{i}")
        t0 = time.time()
        n_pairs = minhash_lsh_pairs(
            docs.repartition(cpus), num_perm=128, bands=32, jaccard_threshold=0.5
        ).count()
        reps.append(round(time.time() - t0, 3))
        print(f"# rep{i}: {reps[-1]}s pairs={n_pairs}", file=sys.stderr)
    print(json.dumps({"metric": "minhash_fused_sf1like_sec", "value": min(reps),
                      "reps": reps, "n_docs": n_docs, "pairs": n_pairs}))
    spark.stop()


def suite_sf1() -> None:
    """Headline relational queries against sf1-shaped inputs where local
    testdata stops at sf0.1 (docs only; lineitem/events scale linearly
    and are already sub-second)."""
    profile_minhash(50_000)


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "minhash"
    if cmd == "minhash":
        profile_minhash(int(sys.argv[2]) if len(sys.argv) > 2 else 50_000)
    elif cmd == "suite_sf1":
        suite_sf1()
