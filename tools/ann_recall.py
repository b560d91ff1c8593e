"""Recall@k harness for the approximate ANN family (VERDICT r6 #3).

The oracle-hash checks prove each approximate operator computes exactly
what its plan says — they do NOT prove the approximation is any good.
This tool measures the missing axis: recall@k of every approximate
top-k operator against the exact ``brute_force_topk`` ground truth, on
the real ``embeddings`` table at a given scale factor, across the
parameter settings the defaults have to justify.

recall@k = |approx-top-k ∩ exact-top-k| / (k * n_queries), computed
DISTRIBUTED (an inner join of the two small top-k result sets, one
scalar count to the driver).

Usage:
    python tools/ann_recall.py [sf_dir] [--k 10] [--queries 64]
        [--json OUT.json] [--only name_substring]

Prints a markdown table (for QUALITY.md) and writes the JSON detail.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from platform_etl_openfda_faers_spark.operators import similarity  # noqa: E402
from platform_etl_openfda_faers_spark.session import get_spark  # noqa: E402
from platform_etl_openfda_faers_spark.sources.readers import load_table  # noqa: E402

DIM = 64


def method_grid(emb, queries, k):
    """(name, params, thunk) per measured configuration.  Defaults used by
    the registry queries are marked with ``*`` in the name."""
    grid = []
    for n_tables in (1, 2, 4, 8):
        grid.append(
            (
                f"lsh planes=8 tables={n_tables}" + ("*" if n_tables == 2 else ""),
                {"n_planes": 8, "n_tables": n_tables},
                lambda t=n_tables: similarity.hyperplane_lsh_topk(
                    emb, queries, k=k, n_planes=8, n_tables=t
                ),
            )
        )
    grid.append(
        (
            "lsh planes=6 tables=3 (emb_lsh_ann)",
            {"n_planes": 6, "n_tables": 3},
            lambda: similarity.hyperplane_lsh_topk(
                emb, queries, k=k, n_planes=6, n_tables=3
            ),
        )
    )
    for planes, tables in ((5, 4), (4, 8), (5, 8), (4, 16)):
        grid.append(
            (
                f"lsh planes={planes} tables={tables}",
                {"n_planes": planes, "n_tables": tables},
                lambda p=planes, t=tables: similarity.hyperplane_lsh_topk(
                    emb, queries, k=k, n_planes=p, n_tables=t
                ),
            )
        )
    for planes, tables, probes in (
        (6, 3, 2), (6, 3, 4), (6, 3, 7), (8, 2, 8), (8, 4, 8), (8, 4, 16)
    ):
        grid.append(
            (
                f"lsh-multiprobe planes={planes} tables={tables} probes={probes}"
                + ("*" if (planes, tables, probes) == (6, 3, 7) else ""),
                {"n_planes": planes, "n_tables": tables, "n_probes": probes},
                lambda p=planes, t=tables, r=probes:
                    similarity.hyperplane_lsh_multiprobe_topk(
                        emb, queries, k=k, n_planes=p, n_tables=t, n_probes=r
                    ),
            )
        )
    for nprobe in (1, 2, 4, 8):
        grid.append(
            (
                f"ivf-flat cells=16 nprobe={nprobe}" + ("*" if nprobe == 4 else ""),
                {"n_centroids": 16, "nprobe": nprobe},
                lambda p=nprobe: similarity.ivf_topk(
                    emb, queries, k=k, n_centroids=16, nprobe=p
                ),
            )
        )
    trained = similarity.kmeans_centroids(emb, k=16, iterations=2)
    grid.append(
        (
            "ivf-kmeans cells=16 iter=2 nprobe=4*",
            {"n_centroids": 16, "iterations": 2, "nprobe": 4},
            lambda: similarity.ivf_topk(
                emb, queries, k=k, nprobe=4, centroids=trained
            ),
        )
    )
    for m, kc in ((4, 8), (4, 16), (8, 16)):
        cb = similarity.pq_codebooks(emb, dim=DIM, m=m, k=kc)
        grid.append(
            (
                f"pq-adc m={m} k={kc}" + ("*" if (m, kc) == (4, 8) else ""),
                {"m": m, "k_codes": kc},
                lambda c=cb, mm=m: similarity.pq_adc_topk(
                    emb, queries, c, k=k, dim=DIM, m=mm
                ),
            )
        )
        for rr in (5, 10):
            grid.append(
                (
                    f"pq-adc m={m} k={kc} rerank={rr}k",
                    {"m": m, "k_codes": kc, "rerank_from": rr * k},
                    lambda c=cb, mm=m, r=rr * k: similarity.pq_adc_topk(
                        emb, queries, c, k=k, dim=DIM, m=mm, rerank_from=r
                    ),
                )
            )
    cb48 = similarity.pq_codebooks(emb, dim=DIM, m=4, k=8)
    for nprobe in (3, 8):
        grid.append(
            (
                f"ivf-pq cells=16 nprobe={nprobe} m=4 k=8"
                + ("*" if nprobe == 3 else ""),
                {"nprobe": nprobe, "m": 4, "k_codes": 8},
                lambda p=nprobe: similarity.ivf_pq_topk(
                    emb, queries, trained, cb48, k=k, nprobe=p, dim=DIM
                ),
            )
        )
        grid.append(
            (
                f"ivf-pq cells=16 nprobe={nprobe} m=4 k=8 rerank=5k",
                {"nprobe": nprobe, "m": 4, "k_codes": 8, "rerank_from": 5 * k},
                lambda p=nprobe: similarity.ivf_pq_topk(
                    emb, queries, trained, cb48, k=k, nprobe=p, dim=DIM,
                    rerank_from=5 * k,
                ),
            )
        )
    return grid


def main() -> None:
    args = sys.argv[1:]

    def opt(flag, default):
        if flag in args:
            i = args.index(flag)
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    k = int(opt("--k", "10"))
    n_queries = int(opt("--queries", "64"))
    json_out = opt("--json", "")
    only = opt("--only", "")
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    spark = get_spark(
        "ann-recall",
        master="local[16]",
        conf={"spark.sql.shuffle.partitions": "16", "spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    queries = emb.where(F.col("vec_id") < n_queries)

    truth = (
        similarity.brute_force_topk(emb, queries, k=k)
        .select("query_id", "neighbor_id")
        .persist()
    )
    n_truth = truth.count()

    results = {}
    print(f"corpus={n_corpus} queries={n_queries} k={k} sf_dir={sf_dir}\n")
    print("| method | recall@%d | hits / truth pairs | sec |" % k)
    print("|---|---|---|---|")
    for name, params, thunk in method_grid(emb, queries, k):
        if only and only not in name:
            continue
        t0 = time.time()
        approx = thunk().select("query_id", "neighbor_id")
        hits = truth.join(approx, ["query_id", "neighbor_id"]).count()
        recall = hits / n_truth
        dt = time.time() - t0
        results[name] = {
            "recall": round(recall, 4),
            "params": params,
            "hits": hits,
            "truth_pairs": n_truth,
            "sec": round(dt, 2),
        }
        print(f"| {name} | {recall:.3f} | {hits}/{n_truth} | {dt:.1f} |")
    truth.unpersist()

    if json_out:
        payload = {
            "sf_dir": sf_dir,
            "k": k,
            "n_queries": n_queries,
            "n_corpus": n_corpus,
            "methods": results,
        }
        Path(json_out).write_text(json.dumps(payload, indent=1))
        print(f"\njson -> {json_out}", file=sys.stderr)


if __name__ == "__main__":
    main()
