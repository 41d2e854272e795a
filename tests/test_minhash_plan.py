"""Two-scale recall gate for the size-adaptive MinHash banding plan
(r12 verdict #2): the fixed (16, 4, 4) plan's sf10 planted NEAR-threshold
recall measured 0.73 vs the 0.88 analytic, the same fixed-parameter drift
the hyperplane family had before its r11 `_lsh_plan` fix. `_minhash_plan`
now pins the original plan at fixture scale (bit-identical sf0.01/sf0.1
output) and grows the band count past MINHASH_ADAPT_N to hold banding
recall at the near-threshold reference similarity.

The gate here is the honest one: generate a corpus with planted
3-word-perturbation near-dups (the gen_sf.py recipe), compute each
planted pair's TRUE all-shingle jaccard in Python (exactly what the
signatures estimate — distinct word-3-grams of lower/trim/split text),
derive the ANALYTIC report probability per pair under the chosen plan
(banding collision AND est>=threshold, exact DP over per-band Binomial
agreement counts), and require the measured planted recall to sit within
a noise band of the analytic expectation — at BOTH a fixed-plan scale
and an adaptive-plan scale."""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ct_clickhouse_spark import artifacts
from ct_clickhouse_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    MINHASH_ADAPT_N,
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_ROWS,
    _minhash_plan,
    doc_minhash_lsh_pairs,
    minhash_report_prob,
)


def test_plan_fixture_scale_pinned():
    """Every driver/bench fixture size must get the ORIGINAL (16, 4, 4)
    plan — sf0.01 correctness hashes and sf0.1 bench output depend on it
    being bit-identical to pre-r13."""
    for n in (0, 500, 5_000, MINHASH_ADAPT_N):
        assert _minhash_plan(n) == (MINHASH_K, MINHASH_ROWS, MINHASH_BANDS)


def test_plan_scale_consistency():
    k, rows, bands = _minhash_plan(MINHASH_ADAPT_N + 1)
    assert k == rows * bands
    assert rows == MINHASH_ROWS
    assert bands > MINHASH_BANDS
    # the derivation target: banding recall at the reference similarity
    from ct_clickhouse_spark.operators.dedup import (
        MINHASH_REF_SIM,
        MINHASH_TARGET_RECALL,
    )

    p = MINHASH_REF_SIM**rows
    assert 1.0 - (1.0 - p) ** bands >= MINHASH_TARGET_RECALL
    # monotone in n and stable: the plan is a function of the knee only
    assert _minhash_plan(10 * MINHASH_ADAPT_N) == (k, rows, bands)


_analytic_report_prob = minhash_report_prob


def _shingle_set(text: str) -> frozenset[str]:
    words = text.strip().lower().split()
    return frozenset(
        " ".join(words[i : i + 3]) for i in range(len(words) - 2)
    )


def _make_corpus(tmp_path, n_doc: int, seed: int) -> tuple[str, dict]:
    """gen_sf.py's near-dup recipe: every 20th doc is a 3-word
    perturbation of its predecessor; vocab sized so the planted pairs'
    jaccard spectrum spans the threshold (short docs land near it, long
    docs well above)."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(800)])
    lens = rng.integers(10, 101, n_doc)
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    for i in range(n_doc):
        if i % 20 == 1 and i >= 1:
            words = texts[i - 1].split(" ")
            for pos in rng.integers(0, len(words), 3):
                words[pos] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
            planted.append((i - 1, i))
            continue
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), lens[i])]))
    out = tmp_path / f"docs{n_doc}"
    out.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
                "text": pa.array(texts, type=pa.string()),
                "lang": pa.array(["en"] * n_doc),
                "source": pa.array(["src0"] * n_doc),
                "n_chars": pa.array(
                    [len(t) for t in texts], type=pa.int64()
                ),
            }
        ),
        out / "documents.parquet",
    )
    truth = {}
    for a, b in planted:
        sa, sb = _shingle_set(texts[a]), _shingle_set(texts[b])
        union = len(sa | sb)
        truth[(a, b)] = len(sa & sb) / union if union else 0.0
    return str(out), truth


@pytest.mark.parametrize(
    "n_doc,seed",
    [
        pytest.param(2_000, 13, id="fixed-plan-scale"),
        pytest.param(MINHASH_ADAPT_N + 4_000, 17, id="adaptive-plan-scale"),
    ],
)
def test_planted_recall_matches_banding_analytic(spark, tmp_path, n_doc, seed):
    sf_dir, truth = _make_corpus(tmp_path, n_doc, seed)
    k, r, b = _minhash_plan(n_doc)
    live = {p: s for p, s in truth.items() if s >= JACCARD_THRESHOLD}
    assert len(live) >= 60, "corpus must plant enough live near pairs"
    expect = float(
        np.mean([_analytic_report_prob(s, k, r, b) for s in live.values()])
    )
    got = {
        (int(row.doc_a), int(row.doc_b))
        for row in doc_minhash_lsh_pairs(spark, sf_dir).collect()
    }
    recall = sum(1 for p in live if p in got) / len(live)
    # binomial noise at |live|~100 is sigma ~0.04; 0.08 is a 2-sigma band
    tol = max(0.08, 2.5 * math.sqrt(expect * (1 - expect) / len(live)))
    assert abs(recall - expect) <= tol, (
        f"planted recall {recall:.3f} vs analytic {expect:.3f} "
        f"(plan k={k} r={r} b={b}, n={len(live)} live pairs, tol {tol:.3f})"
    )
    # the adaptive plan must also clear the absolute design floor the
    # fixed plan missed at sf10 (0.73 measured)
    if n_doc > MINHASH_ADAPT_N:
        assert recall >= 0.8, f"adaptive-plan recall {recall:.3f} < 0.8"


# ---------------------------------------------------------------------------
# One full-corpus signature pass across k (r13 verdict #3): seed i always
# produces column h{i}, so the k=16 signatures slot and the plan-k LSH
# slot must share ONE explode + min-aggregate per (session, sf_dir) —
# smaller-k requests are projections of the cached larger-k frame, and a
# cache miss computes at the corpus plan's k up front.


def _fresh_sig_cache():
    from ct_clickhouse_spark.operators import dedup as D

    artifacts.clear("minhash_sig")
    return D


def test_smaller_k_served_by_projection(spark, tmp_path, monkeypatch):
    D = _fresh_sig_cache()
    try:
        sf_dir, _ = _make_corpus(tmp_path, 400, seed=23)
        full = D._minhash_sig_df(spark, sf_dir, k=48)
        assert len([c for c in full.columns if c.startswith("h")]) == 48
        # the corpus is now unloadable: a second full-corpus aggregate
        # would have to re-load documents and must not happen
        monkeypatch.setattr(
            D,
            "load_table",
            lambda *a, **kw: (_ for _ in ()).throw(
                AssertionError("second full-corpus signature pass ran")
            ),
        )
        small = D._minhash_sig_df(spark, sf_dir, k=16)
        assert small.columns == ["doc_id"] + [f"h{i}" for i in range(16)]
        lhs = {r["doc_id"]: [r[f"h{i}"] for i in range(16)] for r in small.collect()}
        rhs = {r["doc_id"]: [r[f"h{i}"] for i in range(16)] for r in full.collect()}
        assert lhs == rhs  # seed-stable prefix property, observed
    finally:
        artifacts.clear("minhash_sig")


def test_miss_precomputes_at_plan_k(spark, tmp_path, monkeypatch):
    """Sweep order independence: when the adaptive plan wants k=48, a
    FIRST request for k=16 must compute (and cache) the k=48 frame so
    the later LSH request is also a cache hit — one aggregate total."""
    D = _fresh_sig_cache()
    try:
        sf_dir, _ = _make_corpus(tmp_path, 600, seed=29)
        monkeypatch.setattr(D, "MINHASH_ADAPT_N", 100)  # plan: k=48 at 600 docs
        plan_k = D._minhash_plan(600)[0]
        assert plan_k > 16
        small = D._minhash_sig_df(spark, sf_dir, k=16)
        assert small.columns == ["doc_id"] + [f"h{i}" for i in range(16)]
        cached_ks = {k for (sdir, k) in artifacts.entries("minhash_sig", spark) if sdir == sf_dir}
        assert cached_ks == {plan_k}
        monkeypatch.setattr(
            D,
            "load_table",
            lambda *a, **kw: (_ for _ in ()).throw(
                AssertionError("plan-k request re-ran the signature pass")
            ),
        )
        full = D._minhash_sig_df(spark, sf_dir, k=plan_k)
        assert len([c for c in full.columns if c.startswith("h")]) == plan_k
    finally:
        artifacts.clear("minhash_sig")


def test_merge_pin_gated_on_corpus_size(spark, tmp_path, monkeypatch):
    """The sf30 safety property (r14: static broadcast of a corpus-sized
    aggregate-derived side killed the driver; shuffle-hash task-OOMed):
    ABOVE the adaptive knee the band self-join must be sort-merge —
    regardless of Catalyst's size estimate — while BELOW it the pin is
    absent and Catalyst keeps its (faster, broadcastable) choice."""
    D = _fresh_sig_cache()
    try:
        sf_dir, _ = _make_corpus(tmp_path, 400, seed=29)

        # below the knee: no forced merge anywhere in the slot's plan
        small_plan = D.doc_minhash_lsh_pairs(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in small_plan, (
            "fixture-scale plan should keep Catalyst's join choice"
        )

        # above the knee (rowcount mocked; 400 physical rows keep the
        # plan build cheap): every band/sig join must be sort-merge
        artifacts.clear("minhash_sig")
        monkeypatch.setattr(D, "table_rowcount", lambda *a, **k: D.MINHASH_ADAPT_N + 1)
        big_plan = D.doc_minhash_lsh_pairs(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in big_plan, (
            "above-knee band self-join lost its sort-merge pin"
        )
        assert "BroadcastHashJoin" not in big_plan, (
            "above-knee plan statically broadcast a corpus-sized side "
            "(the measured sf30 driver-death shape)"
        )
    finally:
        artifacts.clear("minhash_sig")
