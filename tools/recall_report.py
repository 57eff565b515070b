"""Recall@k of the ANN paths (banded LSH, IVF-flat with the computed
k-means centroids) against the exact brute-force cosine top-k, per sf.

recall@k = |ANN top-k ∩ exact top-k| / k averaged over the query set
(k = ANN_K; the exact list is truncated to the same k). Results are
logged in SCALE.md.

Usage: python tools/recall_report.py [sf0.01 sf0.1]
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

TESTDATA = "/root/testdata"


def _topk(df, k):
    out = {}
    for r in df.collect():
        if r["rank"] <= k:
            out.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    return out


def main(sfs) -> None:
    from pyspark.sql import SparkSession

    from docling_core_spark.corpus import constants as C, similarity as CS

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("ann-recall")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    k = C.ANN_K
    for sf in sfs:
        sf_dir = f"{TESTDATA}/{sf}"
        exact = _topk(CS.q_knn_bruteforce(spark, sf_dir), k)
        for name, fn in (
            ("ann_lsh_topk", CS.q_ann_lsh_topk),
            ("ann_ivf_topk", CS.q_ann_ivf_topk),
        ):
            ann = _topk(fn(spark, sf_dir), k)
            recalls = [
                len(ann.get(q, set()) & hits) / len(hits)
                for q, hits in exact.items()
            ]
            print(
                f"{sf} {name}: recall@{k} ="
                f" {sum(recalls) / len(recalls):.3f}"
                f" over {len(recalls)} queries"
            )
        from docling_core_spark.corpus import clear
        clear()
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:] or ["sf0.01", "sf0.1"])
