"""ANN quality probe: measured recall@k of every approximate
similarity path against the brute-force ground truth, on the real
fixture embeddings. Complements the pytest invariants (full-probe ==
brute etc.) with the NUMBERS a deployment tunes by: recall as a
function of nprobe / n_tables / refine, plus warm per-path wall time.

Usage: python tools/ann_quality.py [sf_dir] [n_queries] [k]
Prints one JSON line per configuration and a summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import ceres_spark.operators.ivf as ivf
import ceres_spark.operators.ivfpq as ivfpq
import ceres_spark.operators.pq as pqmod
import ceres_spark.operators.similarity as sim
import ceres_spark.sources.tables as tbl
from ceres_spark.session import get_spark


def truth_sets(df, k):
    """query_id -> set of top-k neighbor ids (rank <= k)."""
    out: dict[int, set[int]] = {}
    for r in df.collect():
        if r["rank"] <= k:
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def recall(approx, truth, k):
    """Mean fraction of true top-k recovered per query."""
    hits, total = 0, 0
    for q, t in truth.items():
        a = approx.get(q, set())
        hits += len(a & t)
        total += len(t)
    return round(hits / max(total, 1), 4)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    spark = get_spark("ann-quality")
    emb = tbl.load(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < nq)
    n = emb.count()

    t0 = time.perf_counter()
    brute = sim.topk_brute(emb, queries, k=k)
    truth = truth_sets(brute, k)
    t_brute = round(time.perf_counter() - t0, 2)
    print(json.dumps({"path": "brute", "recall": 1.0, "sec": t_brute,
                      "corpus": n, "queries": nq, "k": k}))

    def run(name, df, **cfg):
        t0 = time.perf_counter()
        approx = truth_sets(df, k)
        dt = round(time.perf_counter() - t0, 2)
        rec = recall(approx, truth, k)
        print(json.dumps({"path": name, "recall": rec, "sec": dt, **cfg}))
        return rec

    results = {}
    for n_tables in (4, 8, 16):
        results[f"lsh_t{n_tables}"] = run(
            "lsh",
            sim.topk_lsh(emb, queries, k=k, n_planes=4, n_tables=n_tables),
            n_planes=4, n_tables=n_tables,
        )
    cents = ivf.train_centroids_cached(emb, sf_dir + "#annq", k=8, iters=1)
    idx = ivf.build_index(emb, cents)
    for nprobe in (1, 2, 4, 8):
        results[f"ivf_p{nprobe}"] = run(
            "ivf", ivf.search(idx, queries, cents, k=k, nprobe=nprobe),
            k_lists=8, nprobe=nprobe,
        )
    for refine in (k, 50, 200):
        results[f"pq_r{refine}"] = run(
            "pq",
            pqmod.topk_cosine_pq(
                emb, queries, k=k, refine=refine,
                cache_key=sf_dir + "#annq",
            ),
            refine=refine,
        )
    for nprobe in (2, 4, 8):
        results[f"ivfpq_p{nprobe}"] = run(
            "ivfpq",
            ivfpq.topk_cosine_ivfpq(
                emb, queries, k=k, k_lists=8, nprobe=nprobe, refine=50,
                cache_key=sf_dir + "#annq",
            ),
            k_lists=8, nprobe=nprobe, refine=50,
        )
    print(json.dumps({"summary": results}))


if __name__ == "__main__":
    main()
