"""Sweep the contrastive miner's IVF candidate pool (VERDICT r10 next #2).

Grid over (k_cells, nprobe) for the trained-IVF pool, running the REAL
kernels (engine-exact prefix-init Lloyd + cosine_topk_ivf) so the
numbers certify the code that ships, not a simulator.  Per config:

  recall@3  — fraction of the exact grid's per-anchor top-3 hard
              negatives the pooled miner reproduces (the
              pairs_mine_recall_eval metric)
  touch     — measured scored-pair fraction: |probes x assigned pairs|
              / (n_anchors * (n_corpus - 1)) — the cost driver at
              100 TB (scored rows per anchor)

The SRP pool (current default) is measured the same way for the
crossover calibration.  Output: one JSON line per (sf, route, config).

Usage: python tools/sweep_miner_pool.py [sf_dir ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from qaapi_spark.operators.kmeans import lloyd_centroids_distributed  # noqa: E402
from qaapi_spark.operators.retrieval import (  # noqa: E402
    srp_band_keys,
    srp_lsh_topk,
)
from qaapi_spark.operators.similarity import (  # noqa: E402
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    nearest_broadcast,
)
from qaapi_spark.operators.windows import topk_per_group  # noqa: E402
from qaapi_spark.plans.llm_retrieval import (  # noqa: E402
    _HARD_NEG_K,
    _MINE_POOL,
    _SRP_BANDS,
    _SRP_FLIPS,
    _SRP_PLANES,
    _mine_anchor_inputs,
)
from qaapi_spark.session import get_spark  # noqa: E402


def hard_from_pool(pool, partners):
    negs = pool.join(partners, ["query_id", "cand_id"], "left_anti")
    return topk_per_group(
        negs, ["query_id"], [F.desc("cosine"), F.asc("cand_id")], _HARD_NEG_K
    ).select("query_id", "cand_id")


def recall(ihard, ehard):
    e_rows = {(r[0], r[1]) for r in ehard.collect()}
    i_rows = {(r[0], r[1]) for r in ihard.collect()}
    return len(e_rows & i_rows) / len(e_rows) if e_rows else 1.0


def main():
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    spark = get_spark()
    for sf_dir in sf_dirs:
        pos, e, qs, partners = _mine_anchor_inputs(spark, sf_dir)
        e = e.persist()
        qs = qs.persist()
        n_corpus = e.count()
        n_anchors = qs.count()
        denom = n_anchors * (n_corpus - 1)
        grid = cosine_topk_bruteforce(qs, e, int(n_corpus))
        ehard = hard_from_pool(grid, partners).persist()
        ehard.count()

        # SRP baseline: recall + measured candidate touch (the band-key
        # collision count the rerank scores, pre-dedup semantics match
        # the kernel's dropDuplicates).
        t0 = time.time()
        pool = srp_lsh_topk(
            qs, e, _MINE_POOL, n_planes=_SRP_PLANES, n_bands=_SRP_BANDS,
            n_probe_flips=_SRP_FLIPS,
        )
        r = recall(hard_from_pool(pool, partners), ehard)
        # touch: distinct (q, c) band collisions incl. multi-probe keys
        import numpy as np
        import pandas as pd

        from qaapi_spark.operators.retrieval import srp_quantize, srp_sign_matrix

        q_rows = qs.select("vec_id", "embedding").collect()
        q_ids = np.array([row[0] for row in q_rows], dtype=np.int64)
        q_raw = np.array([row[1] for row in q_rows], dtype=np.float64)
        dim = q_raw.shape[1]
        rpb = _SRP_PLANES // _SRP_BANDS
        planes = np.array(srp_sign_matrix(_SRP_PLANES, dim), dtype=np.int64)
        weights = 2 ** np.arange(rpb - 1, -1, -1, dtype=np.int64)
        q_bits = (srp_quantize(q_raw) @ planes.T) > 0
        q_keys = q_bits.reshape(len(q_ids), _SRP_BANDS, rpb).astype(np.int64) @ weights
        probe_keys = [q_keys] + [q_keys ^ (1 << j) for j in range(rpb)]
        stacked = np.stack(probe_keys, axis=2)
        qk = spark.createDataFrame(
            pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, _SRP_BANDS * stacked.shape[2]),
                    "band": np.tile(
                        np.repeat(np.arange(_SRP_BANDS, dtype=np.int64), stacked.shape[2]),
                        len(q_ids),
                    ).astype("int32"),
                    "key": stacked.ravel(),
                }
            ),
            "q_id long, band int, key long",
        )
        ck = srp_band_keys(e, _SRP_PLANES, _SRP_BANDS, dim).select(
            F.col("id").alias("c_id"), "band", "key"
        )
        touched = (
            F.broadcast(qk)
            .join(ck, ["band", "key"])
            .filter(F.col("q_id") != F.col("c_id"))
            .select("q_id", "c_id")
            .distinct()
            .count()
        )
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "route": "srp",
                    "config": f"{_SRP_PLANES}p/{_SRP_BANDS}b/{_SRP_FLIPS}f",
                    "n_corpus": n_corpus,
                    "n_anchors": n_anchors,
                    "recall_at_3": round(r, 4),
                    "touch": round(touched / denom, 4),
                    "sec": round(time.time() - t0, 2),
                }
            ),
            flush=True,
        )

        for k_cells in (8, 12, 16, 24, 32):
            cents = lloyd_centroids_distributed(
                e, k=k_cells, iters=3, id_col="vec_id", vec_col="embedding",
                round_dp=6,
            ).select(
                F.col("cid").cast("long").alias("centroid_id"),
                F.col("c").alias("cvec"),
            ).persist()
            cents.count()
            for nprobe in sorted({2, 3, max(1, k_cells // 4), max(1, int(k_cells * 0.4))}):
                if nprobe > k_cells:
                    continue
                t0 = time.time()
                pool = cosine_topk_ivf(
                    qs, e, _MINE_POOL, nprobe=nprobe, cents=cents
                )
                r = recall(hard_from_pool(pool, partners), ehard)
                assigned = nearest_broadcast(
                    e, cents, 1, stream_id="vec_id", stream_vec="embedding",
                    ref_id="centroid_id", ref_vec="cvec",
                ).select(F.col("query_id").alias("cand_id"), F.col("cand_id").alias("centroid_id"))
                probes = nearest_broadcast(
                    qs, cents, nprobe, stream_id="vec_id", stream_vec="embedding",
                    ref_id="centroid_id", ref_vec="cvec",
                ).select("query_id", F.col("cand_id").alias("centroid_id"))
                touched = (
                    probes.join(assigned, "centroid_id")
                    .filter(F.col("query_id") != F.col("cand_id"))
                    .count()
                )
                print(
                    json.dumps(
                        {
                            "sf_dir": sf_dir,
                            "route": "ivf",
                            "config": f"k{k_cells}/np{nprobe}",
                            "k_cells": k_cells,
                            "nprobe": nprobe,
                            "n_corpus": n_corpus,
                            "n_anchors": n_anchors,
                            "recall_at_3": round(r, 4),
                            "touch": round(touched / denom, 4),
                            "sec": round(time.time() - t0, 2),
                        }
                    ),
                    flush=True,
                )
            cents.unpersist()
        ehard.unpersist()
        e.unpersist()
        qs.unpersist()


if __name__ == "__main__":
    main()
