#!/usr/bin/env python
"""Whole-surface correctness certification above sf1 (r12: verdict items
2+3). Produces ONE artifact covering all 50 driver slots with a NAMED
verification mode per slot — no prose-only claims:

- mode="oracle":  the slot's full DuckDB oracle on a spill-enabled
  connection (temp_directory + 60 GB limit — the r11 protocol that fixed
  the 4 OOM slots), verdict "hash" (strict str(double) signature) or
  "rtol" (the relative-grid signature verify_driver emits — the sf10-
  proven failure class is last-ulp FP-addition-order noise on ~6e12 sums).
- mode="sampled": a LINEAR surrogate oracle for the slots whose full
  DuckDB oracle is O(n^2) (~66 h at sf10): candidate-restricted SQL with
  the full oracle's own CTEs, exact numpy recomputation over the raw
  parquet, planted-truth recall (the generator plants deterministic
  dup/near-dup structure: docs i%500==2 exact copy of i-2, i%100==1
  3-word-perturbed copy of i-1; embeddings i%41==1 near-copy of i-1),
  and union-find closure over the verified edge sets.
- mode="pytest":  rows-only-by-nature slots (engine-specific sketches,
  FS metadata, binary decode) — spark_rows recorded + the gate named.

Self-check (--selfcheck, sane at sf0.01): for each sampled slot that has
a full oracle, ALSO run the full oracle and record whether the strict
signature agrees — evidence that the surrogate would have caught what
the full oracle catches.

Usage:
  python scripts/certify_sf10.py --sf-dir .benchdata/sf10 \
      --out CORRECTNESS_sf10_r12.json
  python scripts/certify_sf10.py --sf-dir /root/testdata/sf0.01 \
      --out /tmp/selfcheck.json --selfcheck
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

# Slots whose full DuckDB oracle is O(n^2) at scale (recursive closure
# over an all-pairs self-join, or the all-pairs join itself), plus the
# two approximate rows-only families a sampled check CAN certify.
SAMPLED_SLOTS = {
    "dedup_ngram_jaccard_pairs",
    "sim_cosine_pairs",
    "dedup_embedding_groups",
    "dedup_lsh_pairs",
    "sim_ivf_topk",
}

PYTEST_GATES = {
    "dedup_sketch_signatures": "tests/test_sketches.py (seeded-minhash/simhash pins + property suite)",
    "rel_sketch_quantiles": "tests/test_operators.py approx-vs-exact bounds; tests/test_streaming_rollup.py",
    "text_doc_fingerprint": "tests/test_functions.py rolling-hash pins",
    "ref_sketches": "tests/test_sketches.py (HLL/KMV/CMS vs exact counts)",
    "ref_table_sizes": "tests/test_round5_gates.py (metadata/maintenance rows)",
    "mm_decode_features": "tests/test_multimodal.py codec round-trips",
    "ingest_parse_batch": "tests/test_http_transport.py + tests/test_functions.py (RFC 6962 + DER)",
}

# Soundness comparisons tolerate half a 4-decimal grid step plus slack:
# reported scores are round(x, 4) of a float64 kernel whose BLAS blocking
# may differ from the recompute's by last-ulp summation order.
SCORE_TOL = 1.1e-4
PAIR_THRESHOLD = 0.42  # operators/similarity.py:28
JACCARD_THRESHOLD = 0.5  # operators/dedup.py:41


def spill_con(oracle_dir: str):
    import duckdb

    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    # CONNECT-TIME config, not SET-after-connect: the buffer manager is
    # sized at database construction, and the post-connect SET variant
    # reproducibly died with bad-allocation on the string-heavy sf10
    # oracles even with 120 GB free and an empty spill dir.
    # 100 GB limit, sized for a JVM-FREE process (the two-phase split):
    # the string-heavy sf10 oracles hold non-evictable working sets the
    # spill path cannot shrink (text_doc_profile needs ~100 GB and 245 s
    # ALONE; it dies at 80 GB, and dedup_doc_exact dies at 48 GB), so
    # the only workable protocol is maximum headroom with nothing else
    # resident — which is exactly why the spark phase must fully exit
    # first (--phase-out / --oracle-phase).
    con = duckdb.connect(
        config={
            "temp_directory": "/tmp/duckdb_spill",
            "memory_limit": "100GB",
            "threads": 16,
        }
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{oracle_dir}/{t}.parquet')"
        )
    return con


def load_embeddings(sf_dir: str):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = t["vec_id"].to_numpy()
    m = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    order = np.argsort(ids)
    return ids[order], mn[order]


class UnionFind:
    def __init__(self, ids):
        self.p = {int(i): int(i) for i in ids}

    def find(self, x):
        p = self.p
        r = x
        while p[r] != r:
            r = p[r]
        while p[x] != r:
            p[x], x = r, p[x]
        return r

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-label convention: component representative = min id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.p[hi] = lo

    def labels(self):
        return {i: self.find(i) for i in self.p}


def check_labels(pdf_rows, all_ids, edges, what):
    """Spark (vec_id, canonical_id, is_keeper) rows vs union-find closure
    over ``edges`` seeded with ``all_ids`` (canonical = component min)."""
    uf = UnionFind(all_ids)
    for a, b in edges:
        uf.union(int(a), int(b))
    want = uf.labels()
    got = {
        int(r[0]): (int(r[1]), bool(r[2]))
        for r in pdf_rows.itertuples(index=False, name=None)
    }
    if set(got) != set(want):
        return {
            "ok": False,
            "what": what,
            "err": f"id set differs: spark {len(got)} vs expected {len(want)}",
        }
    bad = [
        i
        for i, lbl in want.items()
        if got[i] != (lbl, i == lbl)
    ]
    return {
        "ok": not bad,
        "what": what,
        "n_ids": len(want),
        "n_edges": len(edges),
        "n_label_mismatch": len(bad),
        "sample_mismatch": bad[:5],
    }


# ---------------------------------------------------------------------------
# Surrogate verifiers. Each returns a JSON-able dict with "ok".
# ---------------------------------------------------------------------------


def verify_sim_cosine_pairs(pdf, ids, mn, rng):
    """Vectorized: the sf10 output is ~6.7M pairs, so soundness is one
    einsum over row-gathered matrices and membership is binary search
    over a sorted composite-key array, never a Python-loop per pair."""
    import numpy as np

    n = len(ids)
    a = pdf["id_a"].to_numpy(dtype=np.int64)
    b = pdf["id_b"].to_numpy(dtype=np.int64)
    c = pdf["cosine"].to_numpy(dtype=np.float64)
    # soundness: EVERY reported pair recomputed exactly (O(|pairs| * d))
    exact = np.einsum("ij,ij->i", mn[a], mn[b])
    errs = np.abs(exact - c)
    worst = float(errs.max()) if len(errs) else 0.0
    if (errs > SCORE_TOL).any() or (
        np.round(exact, 4) < PAIR_THRESHOLD - SCORE_TOL
    ).any():
        bad = int(np.argmax(errs))
        return {
            "ok": False,
            "err": f"unsound pair {(int(a[bad]), int(b[bad]))}: "
            f"{c[bad]} vs {exact[bad]}",
        }
    keys = np.sort(a * n + b)

    def present(pa, pb):
        k = np.asarray(pa, dtype=np.int64) * n + np.asarray(pb, dtype=np.int64)
        idx = np.searchsorted(keys, k)
        idx = np.clip(idx, 0, len(keys) - 1)
        return keys[idx] == k

    # completeness: planted near-copies (i%41==1 ~ cos > 0.99) ...
    pl = np.arange(1, n)[np.arange(1, n) % 41 == 1]
    pl_cos = np.round(np.einsum("ij,ij->i", mn[pl - 1], mn[pl]), 4)
    live = pl_cos >= PAIR_THRESHOLD + SCORE_TOL
    missed_planted = int((~present(pl[live] - 1, pl[live])).sum())
    # ... and FULL completeness for k random probe rows (each checked
    # against the whole corpus — brute force O(k * n * d))
    probes = rng.choice(n, size=min(64, n), replace=False)
    missed_probe = both_present = 0
    for q in probes:
        sims = mn @ mn[int(q)]
        sims[int(q)] = -np.inf
        hits = np.nonzero(np.round(sims, 4) >= PAIR_THRESHOLD + SCORE_TOL)[0]
        if len(hits) == 0:
            continue
        lo = np.minimum(hits, int(q))
        hi = np.maximum(hits, int(q))
        found = present(lo, hi)
        both_present += int(found.sum())
        missed_probe += int((~found).sum())
    ok = missed_planted == 0 and missed_probe == 0
    return {
        "ok": ok,
        "n_pairs_sound": int(len(c)),
        "worst_abs_err": worst,
        "n_planted": int(live.sum()),
        "n_planted_missed": missed_planted,
        "n_probe_rows": int(len(probes)),
        "n_probe_pairs_found": both_present,
        "n_probe_pairs_missed": missed_probe,
    }


def verify_embedding_groups(pdf, ids, mn, cos_pairs_pdf, spark, sf_dir):
    import numpy as np

    from ct_clickhouse_spark.operators.similarity import (
        EXACT_PAIRS_MAX_ROWS,
        _grid_bits,
        lsh_candidate_pairs,
    )

    n = len(ids)
    out = {}
    # -- kind='global': closure over the slot's ACTUAL routed pair source
    #    (exact GEMM <= EXACT_PAIRS_MAX_ROWS, banded LSH beyond — the
    #    edges themselves are certified by the sim_cosine_pairs /
    #    dedup_lsh_pairs surrogates; this check certifies the distributed
    #    label propagation against an exact union-find).
    if n <= EXACT_PAIRS_MAX_ROWS:
        if cos_pairs_pdf is None:  # --only without sim_cosine_pairs
            from ct_clickhouse_spark.operators.similarity import cosine_pairs

            cos_pairs_pdf = cosine_pairs(spark, sf_dir).toPandas()
        edges = list(
            cos_pairs_pdf[["id_a", "id_b"]].itertuples(index=False, name=None)
        )
        route = "exact-gemm"
    else:
        lp = (
            lsh_candidate_pairs(spark, sf_dir)
            .select("id_a", "id_b")
            .toPandas()  # Arrow path: the sf10 edge set is millions of rows
        )
        edges = list(lp.itertuples(index=False, name=None))
        route = "banded-lsh"
    g = pdf[pdf["kind"] == "global"][["vec_id", "canonical_id", "is_keeper"]]
    out["global"] = check_labels(g, ids, edges, f"closure over {route} edges")
    # -- kind='semdedup_cell': FULLY recomputable — deterministic sign-bit
    #    cells + within-cell exact pairs (same numpy kernel shape) +
    #    union-find. This is an exact certificate, not a sample.
    bits = _grid_bits(n)
    cells = np.zeros(n, dtype=np.int64)
    for j in range(bits):
        cells |= (mn[:, j] >= 0).astype(np.int64) << j
    cell_edges = []
    for c in np.unique(cells):
        idx = np.nonzero(cells == c)[0]
        if len(idx) < 2:
            continue
        sub = mn[idx]
        sims = np.round(sub @ sub.T, 4)
        ai, bj = np.nonzero((sims >= PAIR_THRESHOLD) & (idx[:, None] < idx[None, :]))
        cell_edges.extend(zip(idx[ai].tolist(), idx[bj].tolist()))
    s = pdf[pdf["kind"] == "semdedup_cell"][
        ["vec_id", "canonical_id", "is_keeper"]
    ]
    out["semdedup_cell"] = check_labels(
        s, ids, cell_edges, f"exact grid-cell closure (bits={bits})"
    )
    out["ok"] = out["global"]["ok"] and out["semdedup_cell"]["ok"]
    return out


NGRAM_CAND_SQL = """
WITH raw_sh AS (
    SELECT doc_id, unnest(list_distinct(sh_list)) AS shingle FROM (
        SELECT doc_id,
               CASE WHEN len(words) >= 3
                    THEN list_transform(
                        range(1, len(words) - 1),
                        i -> concat_ws(' ', words[i], words[i+1], words[i+2]))
                    ELSE [] END AS sh_list
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS words
            FROM documents
        )
    )
), sh AS (
    SELECT * FROM raw_sh
    WHERE shingle NOT IN (
        SELECT shingle FROM raw_sh GROUP BY shingle HAVING count(*) > 50
    )
), sizes AS (
    SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), npairs AS (
    SELECT c.doc_a, c.doc_b, count(*) AS n_common
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       CASE WHEN sa.n_sh IS NULL OR sb.n_sh IS NULL THEN NULL
            ELSE round(COALESCE(np.n_common, 0)
                       / (sa.n_sh + sb.n_sh - COALESCE(np.n_common, 0)), 4)
       END AS jaccard
FROM cand c
LEFT JOIN npairs np ON np.doc_a = c.doc_a AND np.doc_b = c.doc_b
LEFT JOIN sizes sa ON sa.doc_id = c.doc_a
LEFT JOIN sizes sb ON sb.doc_id = c.doc_b
"""

# ALL-shingle jaccard (no stop-shingle df cap) for the cand pairs only —
# this is the similarity the MinHash signatures actually estimate, so the
# banding analytic must be evaluated against it, not the capped truth the
# ngram family is verified on (the cap needs a global df pass; dropping it
# lets the scan restrict to the cand docs, ~10^4 of 5*10^5 at sf10).
NGRAM_ALL_CAND_SQL = """
WITH sh AS (
    SELECT doc_id, unnest(list_distinct(sh_list)) AS shingle FROM (
        SELECT doc_id,
               CASE WHEN len(words) >= 3
                    THEN list_transform(
                        range(1, len(words) - 1),
                        i -> concat_ws(' ', words[i], words[i+1], words[i+2]))
                    ELSE [] END AS sh_list
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS words
            FROM documents
            WHERE doc_id IN (
                SELECT doc_a FROM cand UNION SELECT doc_b FROM cand
            )
        )
    )
), sizes AS (
    SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), npairs AS (
    SELECT c.doc_a, c.doc_b, count(*) AS n_common
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       CASE WHEN sa.n_sh IS NULL OR sb.n_sh IS NULL THEN NULL
            ELSE COALESCE(np.n_common, 0)
                 / (sa.n_sh + sb.n_sh - COALESCE(np.n_common, 0))
       END AS jaccard
FROM cand c
LEFT JOIN npairs np ON np.doc_a = c.doc_a AND np.doc_b = c.doc_b
LEFT JOIN sizes sa ON sa.doc_id = c.doc_a
LEFT JOIN sizes sb ON sb.doc_id = c.doc_b
"""


def verify_ngram_pairs(pdf, sf_dir, con, rng):
    """Candidate-restricted replay of the full oracle's own shingle CTEs
    (identical tokenization + df-50 stop-shingle cap) over: every Spark
    pair (soundness), every planted dup/near-dup pair (completeness on
    the known-positive set), and k random pairs (completeness on the
    expected-negative set). Group rows = union-find over the verified
    pair set (exactly the oracle's recursive-closure semantics)."""
    import pandas as pd
    import pyarrow.parquet as pq

    n_doc = pq.ParquetFile(os.path.join(sf_dir, "documents.parquet")).metadata.num_rows
    pairs = pdf[pdf["kind"] == "pair"]
    got = {
        (int(a), int(b)): float(s)
        for a, b, s in pairs[["a", "b", "score"]].itertuples(index=False, name=None)
    }
    planted = [(i - 2, i) for i in range(2, n_doc) if i % 500 == 2] + [
        (i - 1, i) for i in range(1, n_doc) if i % 100 == 1
    ]
    negatives = set()
    while len(negatives) < 500:
        a, b = int(rng.integers(0, n_doc)), int(rng.integers(0, n_doc))
        if a == b:
            continue
        key = (min(a, b), max(a, b))
        if key not in got:
            negatives.add(key)
    cand = sorted(set(got) | set(planted) | negatives)
    con.register("cand", pd.DataFrame(cand, columns=["doc_a", "doc_b"]))
    truth = {
        (int(a), int(b)): (None if j is None else float(j))
        for a, b, j in con.execute(NGRAM_CAND_SQL).fetchall()
    }
    con.unregister("cand")
    unsound = [
        k for k, s in got.items()
        if truth.get(k) is None or abs(truth[k] - s) > 5e-5 or truth[k] < JACCARD_THRESHOLD
    ]
    missed = [
        k for k in planted
        if truth.get(k) is not None
        and truth[k] >= JACCARD_THRESHOLD
        and k not in got
    ]
    false_neg_check = [
        k for k in negatives
        if truth.get(k) is not None and truth[k] >= JACCARD_THRESHOLD
    ]  # a random pair that IS a true pair but absent from spark output
    groups = pdf[pdf["kind"] == "group"].copy()
    groups["is_keeper"] = groups["score"] >= 0.5
    label_check = check_labels(
        groups[["a", "b", "is_keeper"]],
        range(n_doc),
        list(got),
        "closure over verified jaccard pairs",
    )
    ok = not unsound and not missed and not false_neg_check and label_check["ok"]
    return {
        "ok": ok,
        "n_pairs_sound": len(got),
        "n_unsound": len(unsound),
        "sample_unsound": unsound[:5],
        "n_planted": len(planted),
        "n_planted_missed": len(missed),
        "n_random_negatives": len(negatives),
        "n_negatives_actually_positive": len(false_neg_check),
        "groups": label_check,
    }


def verify_lsh_pairs(pdf, sf_dir, ids, mn, con, rng):
    """Per-family sampled verification of the sub-quadratic candidate
    families (approximate by design — soundness is exact, completeness
    is planted-truth recall with a per-family analytic floor)."""
    import numpy as np

    out = {}
    n = len(ids)
    fams = {f: g for f, g in pdf.groupby("family")}

    def cos_sound(g, name, check_threshold=True):
        worst = 0.0
        for a, b, s in g[["id_a", "id_b", "score"]].itertuples(index=False, name=None):
            exact = float(mn[int(a)] @ mn[int(b)])
            worst = max(worst, abs(exact - float(s)))
            if abs(exact - float(s)) > SCORE_TOL:
                return {"ok": False, "err": f"{name} unsound {(a, b)}: {s} vs {exact}"}
            if check_threshold and round(exact, 4) < PAIR_THRESHOLD - SCORE_TOL:
                return {"ok": False, "err": f"{name} below threshold {(a, b)}"}
        return {"ok": True, "n_sound": len(g), "worst_abs_err": worst}

    # hyperplane: scores are exact cosines; planted cos>0.99 pairs are
    # found with P ~ 1-(1-p_bit^bits)^bands >= 0.95 at every plan size
    hp = fams.get("hyperplane")
    planted = [
        (i - 1, i)
        for i in range(1, n)
        if i % 41 == 1 and round(float(mn[i - 1] @ mn[i]), 4) >= PAIR_THRESHOLD
    ]
    if hp is not None:
        r = cos_sound(hp, "hyperplane")
        hp_set = {
            (min(int(a), int(b)), max(int(a), int(b)))
            for a, b in hp[["id_a", "id_b"]].itertuples(index=False, name=None)
        }
        strong = [
            p for p in planted if round(float(mn[p[0]] @ mn[p[1]]), 4) >= 0.99
        ]
        # planted structure exists only in the gen_sf benchdata (the
        # driver fixtures plant none — max pair cosine ~0.51): recall is
        # asserted only when the planted set is live, else recorded None
        rec = (
            sum(1 for p in strong if p in hp_set) / len(strong)
            if strong
            else None
        )
        r.update({"n_planted_strong": len(strong), "planted_recall": rec})
        r["ok"] = r["ok"] and (rec is None or rec >= 0.95)
        out["hyperplane"] = r
    # semdedup: exact cosines within k-means cells (cell scoping is the
    # design, so no global-completeness claim — soundness only)
    sd = fams.get("semdedup")
    if sd is not None:
        out["semdedup"] = cos_sound(sd, "semdedup")
    # ivf_inc: batch (vec_id%5==0) near-dups via ANN — soundness exact,
    # planted recall recorded (approximate path)
    inc = fams.get("ivf_inc")
    if inc is not None:
        r = cos_sound(inc, "ivf_inc")
        bad_batch = [
            (int(a), int(b))
            for a, b in inc[["id_a", "id_b"]].itertuples(index=False, name=None)
            if int(a) % 5 != 0 and int(b) % 5 != 0
        ]
        inc_set = {
            (min(int(a), int(b)), max(int(a), int(b)))
            for a, b in inc[["id_a", "id_b"]].itertuples(index=False, name=None)
        }
        inc_planted = [
            p
            for p in planted
            if (p[0] % 5 == 0) != (p[1] % 5 == 0)
            and round(float(mn[p[0]] @ mn[p[1]]), 4) >= 0.99
        ]
        rec = (
            sum(1 for p in inc_planted if p in inc_set) / len(inc_planted)
            if inc_planted
            else None
        )
        r.update({
            "n_nonbatch_rows": len(bad_batch),
            "n_planted_batch": len(inc_planted),
            "planted_recall": rec,
        })
        r["ok"] = r["ok"] and not bad_batch and (rec is None or rec >= 0.8)
        out["ivf_inc"] = r
    # minhash: estimated jaccard from seeded sketches (not recomputable
    # without the JVM hash). Exact-dup planted pairs have IDENTICAL
    # shingle sets => identical signatures => est 1.0 and guaranteed
    # banding collision: recall floor 1.0 (minus docs the df cap strips
    # to zero shingles). Near-dup recall is gated against the ANALYTIC of
    # the size-adaptive plan actually chosen (_minhash_plan — r12 verdict
    # #2): per live pair, minhash_report_prob(s_all, k, r, b) with s_all
    # the ALL-shingle jaccard the signatures estimate (NGRAM_ALL_CAND_SQL
    # — the capped truth the ngram family verifies on understates it);
    # measured recall must sit within a noise band of the mean analytic.
    # True (capped) jaccard of sampled reported pairs still recorded.
    mh = fams.get("minhash")
    if mh is not None:
        import pandas as pd

        from ct_clickhouse_spark.operators.dedup import (
            _minhash_plan,
            minhash_report_prob,
        )

        mh_set = {
            (min(int(a), int(b)), max(int(a), int(b)))
            for a, b in mh[["id_a", "id_b"]].itertuples(index=False, name=None)
        }
        import pyarrow.parquet as pq

        n_doc = pq.ParquetFile(
            os.path.join(sf_dir, "documents.parquet")
        ).metadata.num_rows
        exact_planted = [(i - 2, i) for i in range(2, n_doc) if i % 500 == 2]
        near_planted = [(i - 1, i) for i in range(1, n_doc) if i % 100 == 1]
        samp = list(mh_set)
        rng.shuffle(samp)
        samp = samp[:300]
        cand = sorted(set(exact_planted) | set(near_planted) | set(samp))
        con.register("cand", pd.DataFrame(cand, columns=["doc_a", "doc_b"]))
        truth = {
            (int(a), int(b)): (None if j is None else float(j))
            for a, b, j in con.execute(NGRAM_CAND_SQL).fetchall()
        }
        truth_all = {
            (int(a), int(b)): (None if j is None else float(j))
            for a, b, j in con.execute(NGRAM_ALL_CAND_SQL).fetchall()
        }
        con.unregister("cand")
        ex_live = [p for p in exact_planted if (truth.get(p) or 0) >= 0.999]
        ex_rec = (
            sum(1 for p in ex_live if p in mh_set) / len(ex_live)
            if ex_live
            else None
        )
        nr_live = [
            p for p in near_planted if (truth.get(p) or 0) >= JACCARD_THRESHOLD
        ]
        nr_rec = (
            sum(1 for p in nr_live if p in mh_set) / len(nr_live)
            if nr_live
            else None
        )
        k, r, b = _minhash_plan(n_doc)
        nr_analytic = (
            float(
                np.mean(
                    [
                        minhash_report_prob(truth_all.get(p) or 0.0, k, r, b)
                        for p in nr_live
                    ]
                )
            )
            if nr_live
            else None
        )
        # ~5% of the analytic plus the binomial noise of the live count
        nr_tol = (
            max(
                0.05,
                2.5
                * (nr_analytic * (1 - nr_analytic) / len(nr_live)) ** 0.5,
            )
            if nr_live
            else None
        )
        tj = [truth.get(p) for p in samp if truth.get(p) is not None]
        low = sum(1 for j in tj if j < 0.2)
        out["minhash"] = {
            # consistency band AND an absolute floor on the analytic
            # (r13 advice): |measured - analytic| alone would certify a
            # plan regression whose analytic is itself poor (mis-set
            # MINHASH_REF_SIM / bands) — a low analytic must fail even
            # when the measurement tracks it.
            "ok": (ex_rec is None or ex_rec >= 0.99)
            and (
                nr_rec is None
                or (abs(nr_rec - nr_analytic) <= nr_tol and nr_analytic >= 0.6)
            )
            and low / max(1, len(tj)) <= 0.2,
            "n_exact_planted": len(ex_live),
            "exact_planted_recall": ex_rec,
            "n_near_planted": len(nr_live),
            "near_planted_recall": nr_rec,
            "near_planted_analytic": nr_analytic,
            "near_planted_tol": nr_tol,
            "plan": {"k": k, "rows": r, "bands": b},
            "n_sampled_true_jaccard": len(tj),
            "sampled_true_jaccard_below_0.2": low,
        }
    out["ok"] = all(v.get("ok") for k, v in out.items() if k != "ok")
    return out


def verify_ivf_topk(pdf, ids, mn):
    """Soundness: every reported cosine == exact recompute against its
    query vector. Completeness: recall@k vs exact brute-force per kind
    (approximate indexes — actual recall recorded, floors catch
    catastrophic breakage, the recall artifacts track the fine values)."""
    import numpy as np

    out = {}
    # rp is record-only: its recall legitimately collapses on noise-
    # dominated corpora (rp_topk docstring — 0.48@refine=96 at sf1; the
    # fixture regime), which is exactly why the ANN router exists. Its
    # soundness (exact re-ranked cosines) IS gated.
    # batch:<qid> rides the same IVF index at fixed probes over single
    # queries whose per-query recall legitimately spreads (recall_min 0.1
    # in ANN_RECALL_sf1.json) — record-only, like rp
    floors = {"ivf": 0.5, "sq8": 0.8, "rp": None}
    for kind, g in pdf.groupby("kind"):
        qid = int(kind.split(":", 1)[1]) if kind.startswith("batch:") else 0
        floor = floors.get(kind, None)
        k = len(g)
        returned = set(int(v) for v in g["vec_id"])
        sims = mn @ mn[qid]
        # some kinds exclude the query row, the batched tier may not —
        # mirror whatever the slot returned when building the exact set
        if qid not in returned:
            sims[qid] = -np.inf
        worst = 0.0
        sound = True
        for v, c in g[["vec_id", "cosine"]].itertuples(index=False, name=None):
            err = abs(float(sims[int(v)]) - float(c))
            worst = max(worst, err)
            if err > SCORE_TOL:
                sound = False
        order = np.lexsort((np.arange(len(ids)), -sims))
        exact = set(order[:k].tolist())
        rec = len(exact & returned) / max(1, k)
        out[kind] = {
            "ok": sound and (floor is None or rec >= floor),
            "k": k,
            "recall_vs_exact": rec,
            "floor": floor,
            "worst_abs_err": worst,
        }
    out["ok"] = all(v.get("ok") for k, v in out.items() if k != "ok")
    return out


# ---------------------------------------------------------------------------


def run_oracle_phase(record: dict, sf_dir: str) -> None:
    """Full-oracle compares for every mode=oracle slot, mutating
    ``record``. Runs in a FRESH python process (no Spark JVM): the py4j
    gateway JVM keeps its multi-GB footprint until process exit even
    after spark.stop(), and DuckDB's buffer manager reproducibly hit
    bad-allocation on the string-heavy sf10 oracles while sharing the
    box with it."""
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    for name, rec in record.items():
        if rec.get("mode") != "oracle" or "_sigs" not in rec:
            continue
        # one SUBPROCESS per slot (r13): a per-slot connection is not
        # enough — glibc never returns a ~100 GB DuckDB working set to
        # the OS on con.close(), so after one string-heavy oracle the
        # process RSS stays pinned and every later slot (even a 2 KB
        # connection bootstrap) dies on bad_alloc. A spawned child gives
        # each slot the box's full free memory and returns it on exit.
        res = _oracle_slot_in_subprocess(sf_dir, oracles[name])
        if "err" in res:
            rec.update({
                "ok": False, "verdict": "oracle-error", "err": res["err"][:300],
            })
            rec.pop("_sigs", None)
            print(f"ORACLE-FAIL {name}: {res['err'][:200]}", flush=True)
            continue
        s = rec.pop("_sigs")
        shape_ok = (
            list(s["cols"]) == list(res["cols"])
            and int(s["rows"]) == int(res["rows"])
        )
        verdict = (
            "hash" if (shape_ok and s["hash"] == res["hash"])
            else "rtol" if (shape_ok and s["grid_hash"] == res["grid_hash"])
            else "fail"
        )
        rec.update({
            "ok": verdict in ("hash", "rtol"),
            "verdict": verdict,
            "oracle_rows": int(res["rows"]),
            "oracle_sec": res["osec"],
        })
        print(f"oracle {name}: {verdict} [{res['osec']}s]", flush=True)


def _oracle_slot_worker(sf_dir: str, sql: str, q) -> None:
    """Child-process body: run ONE oracle on a fresh spill connection and
    ship back only the signature scalars (never the frame)."""
    import time as _time

    try:
        from ct_clickhouse_spark.testing import (
            pandas_signature,
            pandas_signature_rtol,
        )

        t0 = _time.time()
        con = spill_con(sf_dir)
        opdf = con.execute(sql).df()
        osec = round(_time.time() - t0, 2)
        dsig = pandas_signature(opdf)
        dsig_r = pandas_signature_rtol(opdf)
        q.put({
            "cols": list(dsig[0]),
            "rows": int(dsig[1]),
            "hash": dsig[2],
            "grid_hash": dsig_r[2],
            "osec": osec,
        })
    except Exception as e:  # noqa: BLE001 — marshalled to the parent
        q.put({"err": str(e)})


def _oracle_slot_in_subprocess(sf_dir: str, sql: str) -> dict:
    import multiprocessing as mp

    import queue as _queue

    # glibc serves every allocation >= M_MMAP_THRESHOLD (128 KB default,
    # dynamically adjusted) as its OWN mmap, and DuckDB's buffer manager
    # allocates in 256 KB blocks — a ~16 GB hash-distinct working set is
    # then ~65k mappings, which hits vm.max_map_count (65530 default) and
    # surfaces as "Out of Memory Error: Failed to allocate block of ..."
    # with single-digit-GB RSS and >100 GB free (observed on
    # dedup_doc_exact / text_doc_profile; flaky because the threshold
    # auto-adjusts with the alloc/free pattern). Pin the threshold at
    # glibc's 32 MB ceiling in the child's environment so block
    # allocations come from heap arenas instead of per-block mmaps.
    os.environ["MALLOC_MMAP_THRESHOLD_"] = "33554432"
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    p = ctx.Process(target=_oracle_slot_worker, args=(sf_dir, sql, q))
    p.start()
    res = None
    while True:
        try:
            res = q.get(timeout=2)
            break
        except _queue.Empty:
            if not p.is_alive():
                # one last drain: the child may exit between put and poll
                try:
                    res = q.get(timeout=2)
                except _queue.Empty:
                    res = None
                break
    p.join()
    if res is None:
        res = {"err": f"oracle subprocess died (exitcode {p.exitcode})"}
    return res


def write_artifact(record: dict, sf_dir: str, out: str) -> int:
    import datetime

    n_ok = sum(1 for r in record.values() if r.get("ok"))
    artifact = {
        "sf_dir": sf_dir,
        # content-embedded recency token: artifact consumers (e.g.
        # verify_driver's --sf10-modes newest-wins merge) order on THIS,
        # never on filesystem mtime — a fresh clone normalizes mtimes
        # (r13 advice #1)
        "generated_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(
            timespec="seconds"
        ),
        "protocol": (
            "scripts/certify_sf10.py: mode=oracle -> full DuckDB oracle on a "
            "spill-enabled connection, verdict hash|rtol (relative-grid, "
            "ct_clickhouse_spark/testing.py RTOL_SIG_DIGITS=9); mode=sampled "
            "-> linear surrogate (candidate-restricted oracle SQL / exact "
            "numpy recompute / planted-truth recall / union-find closure); "
            "mode=pytest -> rows-only slot, named gate."
        ),
        "n_slots": len(record),
        "n_ok": n_ok,
        "queries": {
            k: {kk: vv for kk, vv in v.items() if not kk.startswith("_")}
            for k, v in record.items()
        },
    }
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    print(f"== {n_ok}/{len(record)} ok -> {out} ==", flush=True)
    return 0 if n_ok == len(record) else 1


def isolate_session(spark) -> None:
    """Return the session to a kernel-cold state before a slot (r14
    verdict #3: in-sweep slot times ran ~15x the fresh-session kernel
    cost because ~40 earlier slots' persisted artifacts caused
    eviction/spill churn; the cold_slot_probe in
    BENCH_lsh_decomp_r14.json measured dedup_sketch_signatures at
    241.3 s in-sweep vs 16.2 s fresh). Clears every artifact in the
    package's registry (``artifacts.clear``), Spark's CacheManager, and
    all persisted RDD blocks, so each slot's time is its OWN kernel + construction cost — the same accounting the
    DuckDB oracle gets (every oracle query pays full cost), making the
    matched table apples-to-apples and sf-growth ratios kernel-shaped."""
    from ct_clickhouse_spark import artifacts

    artifacts.clear()
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in jmap.values():
        jrdd.unpersist()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=".benchdata/sf10")
    ap.add_argument("--out", default="CORRECTNESS_sf10_r12.json")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument(
        "--isolate",
        action="store_true",
        help="clear artifact caches + persisted blocks before each slot "
        "so slot times approximate fresh-session kernel costs",
    )
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--oracle-phase", default=None, help=argparse.SUPPRESS)
    ap.add_argument(
        "--phase-out",
        default=None,
        help="write the spark-phase record here and EXIT instead of "
        "spawning the oracle phase — at big SFs the box's commit budget "
        "(CommitLimit ~63 GB: overcommit_ratio 50, no swap) cannot hold "
        "the driver JVM and DuckDB's working set at once, so the caller "
        "runs `--oracle-phase <file>` as a second, JVM-free invocation",
    )
    args = ap.parse_args()

    if args.oracle_phase:
        with open(args.oracle_phase) as f:
            record = json.load(f)
        print("== full oracles (fresh process, spill-enabled DuckDB) ==", flush=True)
        run_oracle_phase(record, args.sf_dir)
        return write_artifact(record, args.sf_dir, args.out)

    import numpy as np

    import __spark_entry__ as entrymod
    from ct_clickhouse_spark.session import get_spark
    from ct_clickhouse_spark.testing import pandas_signature, pandas_signature_rtol

    rng = np.random.default_rng(7)
    # The certification protocol COLLECTS full results for value hashing
    # (toPandas per slot) — at sf30 the win_order_seq frame (45M rows) is
    # ~1.7 GB serialized, over the 1g default maxResultSize. This is a
    # harness collect, not an operator shape (the operators never collect
    # unbounded frames); size the cap for the certification scales.
    spark = get_spark(
        app_name="certify-sf10",
        extra_conf={"spark.driver.maxResultSize": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    record: dict[str, dict] = {}
    pdfs: dict = {}

    print(f"== Spark side: {len(qs)} slots @ {args.sf_dir} ==", flush=True)
    for name, fn in qs.items():
        if args.only and not any(s in name for s in args.only):
            continue
        if args.isolate:
            isolate_session(spark)
        t0 = time.time()
        try:
            pdf = fn(spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — recorded, not raised
            record[name] = {"mode": "error", "ok": False, "err": str(e)[:300]}
            print(f"SPARK-FAIL {name}: {e}", flush=True)
            continue
        sec = round(time.time() - t0, 2)
        rec: dict = {"spark_rows": int(len(pdf)), "spark_sec": sec}
        if name in SAMPLED_SLOTS:
            rec["mode"] = "sampled"
            pdfs[name] = pdf
        elif name in oracles:
            rec["mode"] = "oracle"
            ssig = pandas_signature(pdf)
            ssig_r = pandas_signature_rtol(pdf)
            rec["_sigs"] = {
                "cols": ssig[0],
                "rows": int(ssig[1]),
                "hash": ssig[2],
                "grid_hash": ssig_r[2],
            }
        else:
            rec["mode"] = "pytest"
            rec["ok"] = True
            rec["gate"] = PYTEST_GATES.get(name, "rows-only (no named gate?)")
        record[name] = rec
        print(f"spark {name}: {len(pdf)} rows [{sec}s] mode={rec['mode']}", flush=True)

    # Surrogates FIRST (they need the live session for the routed edge
    # sets); the full-oracle phase runs after spark.stop() so DuckDB's
    # memory limit and the Spark JVM never coexist — the r12 first run
    # OOM'd the whole process (malloc failures even in pyarrow) with the
    # 24g driver + retained frames + a 60 GB DuckDB limit on one box.
    print("== sampled surrogates ==", flush=True)
    con = spill_con(args.sf_dir)  # light use here: candidate-restricted SQL
    need_emb = SAMPLED_SLOTS & set(pdfs)
    if need_emb:
        ids, mn = load_embeddings(args.sf_dir)
    if "sim_cosine_pairs" in pdfs:
        r = verify_sim_cosine_pairs(pdfs["sim_cosine_pairs"], ids, mn, rng)
        record["sim_cosine_pairs"].update(r)
        print(f"sampled sim_cosine_pairs: ok={r['ok']}", flush=True)
    if "dedup_embedding_groups" in pdfs:
        r = verify_embedding_groups(
            pdfs["dedup_embedding_groups"], ids, mn,
            pdfs.get("sim_cosine_pairs"), spark, args.sf_dir,
        )
        record["dedup_embedding_groups"].update(r)
        print(f"sampled dedup_embedding_groups: ok={r['ok']}", flush=True)
        del pdfs["dedup_embedding_groups"]
    if "sim_cosine_pairs" in pdfs:
        del pdfs["sim_cosine_pairs"]
    if "dedup_ngram_jaccard_pairs" in pdfs:
        r = verify_ngram_pairs(pdfs["dedup_ngram_jaccard_pairs"], args.sf_dir, con, rng)
        record["dedup_ngram_jaccard_pairs"].update(r)
        print(f"sampled dedup_ngram_jaccard_pairs: ok={r['ok']}", flush=True)
        del pdfs["dedup_ngram_jaccard_pairs"]
    if "dedup_lsh_pairs" in pdfs:
        r = verify_lsh_pairs(pdfs["dedup_lsh_pairs"], args.sf_dir, ids, mn, con, rng)
        record["dedup_lsh_pairs"].update(r)
        print(f"sampled dedup_lsh_pairs: ok={r['ok']}", flush=True)
        del pdfs["dedup_lsh_pairs"]
    if "sim_ivf_topk" in pdfs:
        r = verify_ivf_topk(pdfs["sim_ivf_topk"], ids, mn)
        record["sim_ivf_topk"].update(r)
        print(f"sampled sim_ivf_topk: ok={r['ok']}", flush=True)

    if args.selfcheck:
        print("== selfcheck: sampled slots vs their full oracles ==", flush=True)
        qs_all = entrymod.queries()
        for name in sorted(SAMPLED_SLOTS & set(oracles)):
            if args.only and not any(s in name for s in args.only):
                continue
            t0 = time.time()
            opdf = con.execute(oracles[name]).df()
            spdf = qs_all[name](spark, args.sf_dir).toPandas()
            agree = pandas_signature(spdf) == pandas_signature(opdf)
            record[name]["selfcheck_full_oracle_hash_match"] = bool(agree)
            print(f"selfcheck {name}: full-oracle strict match={agree} "
                  f"[{time.time()-t0:.1f}s]", flush=True)

    pdfs.clear()
    con.close()
    spark.stop()

    if args.phase_out:
        with open(args.phase_out, "w") as f:
            json.dump(record, f)
        print(f"spark phase done -> {args.phase_out}; run --oracle-phase", flush=True)
        return 0

    # hand the oracle phase to a FRESH process (see run_oracle_phase):
    # the driver JVM holds its footprint until THIS process exits
    import subprocess
    import tempfile

    with tempfile.NamedTemporaryFile(
        "w", suffix=".json", delete=False
    ) as f:
        json.dump(record, f)
        phase_file = f.name
    try:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--oracle-phase",
                phase_file,
                "--sf-dir",
                args.sf_dir,
                "--out",
                args.out,
            ],
        )
        return proc.returncode
    finally:
        os.unlink(phase_file)


if __name__ == "__main__":
    raise SystemExit(main())
