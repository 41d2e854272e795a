#!/usr/bin/env python
"""ANN router threshold sweep on MIXED regimes (round-11 item 5).

The router's 0.6 cell-recall cutoff (similarity.ANN_CLUSTERED_MIN_RECALL)
separated two measured corpora sitting far apart (sf1 noise at 0.145,
planted at 0.644) — nothing probed the middle. This sweeps a family of
mixed corpora (a planted-cluster core plus a noise fraction swept 0..1,
same 20k x 64 scale as the graded artifacts) and records, per corpus:

  - the probe's verdict (route, cell_recall_1probe, probes_for_target)
  - the CHOSEN tier's end-to-end recall@10 vs brute-force exact cosine,
    over query vectors spread across the corpus (so mixed corpora are
    queried from BOTH populations)

The decision quality criterion: routed recall must stay >= the probe's
target across the whole sweep — especially near the threshold boundary,
where a mis-route would show up as a recall cliff.

Ground truth is numpy on the driver (20k x 64 fits trivially; the
MEASUREMENT may centralize, the operators under test never do).

Usage: python scripts/ann_router_sweep.py [--out FILE]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 10
N, D, N_CLUSTERS = 20000, 64, 10
QUERIES = 16  # one Spark job per query per corpus (single-query tier)
NOISE_FRACS = [0.0, 0.2, 0.4, 0.5, 0.6, 0.8, 1.0]


def _mixed_dir(noise_frac: float) -> str:
    """Deterministic mixed corpus: (1-noise_frac) of rows are planted
    cluster members (signal 4x + 0.5x noise, the ann_recall.py planted
    recipe), noise_frac are pure unit-normal noise. Membership is an
    rng permutation, so any id range samples both populations. Cache
    path embeds a hash of every generation constant (the r10 ADVICE
    rule) plus a per-user suffix."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    seed, signal, noise = 991, 4.0, 0.5
    recipe = hashlib.sha256(
        repr((seed, N, D, N_CLUSTERS, signal, noise, noise_frac)).encode()
    ).hexdigest()[:12]
    out = os.path.join(
        tempfile.gettempdir(), f"ann_router_mixed_{recipe}_u{os.getuid()}"
    )
    path = os.path.join(out, "embeddings.parquet")
    if os.path.exists(path):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(N_CLUSTERS, D))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_CLUSTERS, N).astype(np.int32)
    vecs = signal * centers[labels] + noise * rng.normal(size=(N, D))
    is_noise = rng.permutation(N) < int(noise_frac * N)
    vecs[is_noise] = rng.normal(size=(int(is_noise.sum()), D))
    labels[is_noise] = -1
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.astype(np.float32).ravel(), type=pa.float32()), D
    ).cast(pa.list_(pa.float32()))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(N, dtype=np.int64)),
                "embedding": emb,
                "label": pa.array(labels),
            }
        ),
        path + ".tmp",
    )
    os.replace(path + ".tmp", path)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--queries", type=int, default=QUERIES)
    args = ap.parse_args()

    import numpy as np

    from ct_clickhouse_spark.operators.similarity import (
        ANN_TARGET_RECALL,
        ann_regime_probe,
        ann_topk_auto,
    )
    from ct_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="ann-router-sweep", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    sweep = []
    for nf in NOISE_FRACS:
        corpus = _mixed_dir(nf)
        probe = ann_regime_probe(spark, corpus)

        # ground truth once per corpus
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(corpus, "embeddings.parquet"))
        m = np.array(t["embedding"].to_pylist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        if args.queries == 1:
            qids = [0]
        else:
            qids = [
                int(i * (N - 1) / (args.queries - 1)) for i in range(args.queries)
            ]
        recalls = []
        for qid in qids:
            sims = m @ m[qid]
            sims[qid] = -np.inf
            # exact ties broken by vec_id, matching the tiers' ordering
            order = np.lexsort((np.arange(N), -sims))
            exact = set(order[:K].tolist())
            got = {
                r.vec_id
                for r in ann_topk_auto(
                    spark, corpus, k=K, query_vec_id=qid
                ).collect()
            }
            recalls.append(len(got & exact) / K)
        sweep.append(
            {
                "noise_frac": nf,
                "route": probe["route"],
                "cell_recall_1probe": probe["cell_recall_1probe"],
                "probes_for_target": probe["probes_for_target"],
                "n_cells": probe["n_cells"],
                "routed_recall_at_10_mean": round(
                    float(np.mean(recalls)), 4
                ),
                "routed_recall_at_10_min": round(float(np.min(recalls)), 4),
                "queries": len(qids),
            }
        )
        print(json.dumps(sweep[-1]), flush=True)

    out = {
        "metric": "ann_router_mixed_regime_sweep",
        "n": N,
        "d": D,
        "k": K,
        "target_recall": ANN_TARGET_RECALL,
        "threshold_cell_recall": 0.6,
        "sweep": sweep,
    }
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
