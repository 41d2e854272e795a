"""Bigram-LM quality scoring: hand-checked counts/NLL on a tiny planted
corpus, OOV behavior, and the in-domain < out-of-domain ordering the
filter exists to produce."""

from __future__ import annotations

import math

from ct_clickhouse_spark.operators.text import LM_LANG, bigram_lm_scores


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [
            (i, text, lang, "src", len(text))
            for i, (text, lang) in enumerate(rows)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "fixture")
    df.write.parquet(out + "/documents.parquet")
    return out


def test_lm_counts_and_nll_hand_checked(spark, tmp_path):
    # LM corpus (lang=en): "a b a b" and "a b c"
    #   bigrams: (a,b)x2 +1 = c12(a,b)=3 ; (b,a)=1 ; (b,c)=1
    #   c1: a->3, b->2 ; V = distinct w2 = {a, b, c} = 3
    out = _write_docs(
        spark,
        tmp_path,
        [("a b a b", LM_LANG), ("a b c", LM_LANG), ("a b z", "xx")],
    )
    rows = {r.doc_id: r for r in bigram_lm_scores(spark, out).collect()}
    # doc 0: bigrams (a,b),(b,a),(a,b) -> sum_c12 = 3+1+3 = 7, no OOV
    assert rows[0].n_bigrams == 3 and rows[0].sum_c12 == 7 and rows[0].n_oov == 0
    want0 = -(
        math.log(4 / 6) + math.log(2 / 5) + math.log(4 / 6)
    ) / 3  # (c12+1)/(c1+V)
    assert abs(rows[0].bigram_nll - round(want0, 4)) < 1e-9
    # doc 2 (not in LM): (a,b) seen c12=3 c1=3; (b,z) unseen c12=0 c1=2
    assert rows[2].n_bigrams == 2 and rows[2].sum_c12 == 3 and rows[2].n_oov == 1
    want2 = -(math.log(4 / 6) + math.log(1 / 5)) / 2
    assert abs(rows[2].bigram_nll - round(want2, 4)) < 1e-9


def test_lm_orders_in_domain_below_gibberish(spark, tmp_path):
    lm_text = "the quick brown fox jumps over the lazy dog " * 5
    out = _write_docs(
        spark,
        tmp_path,
        [
            (lm_text, LM_LANG),
            ("the quick brown fox jumps", "xx"),  # in-domain, not in LM
            ("zq xv qqq plork wunk zzz", "xx"),  # gibberish, not in LM
        ],
    )
    rows = {r.doc_id: r for r in bigram_lm_scores(spark, out).collect()}
    assert rows[1].bigram_nll < rows[2].bigram_nll
    assert rows[2].n_oov == rows[2].n_bigrams  # fully OOV


def test_lm_short_docs_are_null_not_zero(spark, tmp_path):
    out = _write_docs(
        spark, tmp_path, [("hello world", LM_LANG), ("single", LM_LANG)]
    )
    rows = {r.doc_id: r for r in bigram_lm_scores(spark, out).collect()}
    assert rows[1].n_bigrams == 0 and rows[1].bigram_nll is None
    assert rows[0].n_bigrams == 1 and rows[0].bigram_nll is not None


def test_prebuilt_lm_artifact_matches_direct(spark, tmp_path):
    from ct_clickhouse_spark.catalog import load_table
    from ct_clickhouse_spark.operators.text import lm_score, train_bigram_lm

    out = _write_docs(
        spark,
        tmp_path,
        [("a b a b", LM_LANG), ("a b c", LM_LANG), ("a b z", "xx")],
    )
    docs = load_table(spark, out, "documents")
    lm = train_bigram_lm(docs.filter("lang = '%s'" % LM_LANG))
    got = {tuple(r) for r in lm_score(docs, lm=lm).collect()}
    want = {
        tuple(r)
        for r in lm_score(docs, docs.filter("lang = '%s'" % LM_LANG)).collect()
    }
    assert got == want
    lm[0].unpersist()


def test_quality_filter_reasons_are_auditable(spark, tmp_path):
    """Every failed rule is named; keep == no reasons; the LM rule only
    engages when an LM artifact is passed."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.catalog import load_table
    from ct_clickhouse_spark.operators.text import (
        quality_filter,
        train_bigram_lm,
    )

    good = "this is a perfectly reasonable document with many plain words"
    out = _write_docs(
        spark,
        tmp_path,
        [
            (good + " " + good, LM_LANG),        # passes everything
            ("too short", LM_LANG),              # too_short
            ("@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) ____ ++++", LM_LANG),  # junk (+short)
            (("spam " * 40).strip(), LM_LANG),   # repetitive
            ("zq xv qq plork wunk vex gr tk lm po wq az dd ee ff gg", "xx"),  # OOV -> high nll
        ],
    )
    docs = load_table(spark, out, "documents")
    lm = train_bigram_lm(docs.filter(F.col("lang") == LM_LANG))
    # max_nll sized to the tiny test LM: its fully-OOV NLL is ln(c1+V)
    # ~= 3.2, far below the web-scale default threshold
    rows = {
        r.doc_id: r
        for r in quality_filter(docs, lm=lm, max_nll=2.5).collect()
    }
    assert rows[0].keep and list(rows[0].drop_reasons) == []
    assert "too_short" in rows[1].drop_reasons and not rows[1].keep
    assert "junk_ratio" in rows[2].drop_reasons
    assert "repetitive" in rows[3].drop_reasons
    assert "high_perplexity" in rows[4].drop_reasons
    # without an LM the perplexity rule never fires
    no_lm = {r.doc_id: r for r in quality_filter(docs).collect()}
    assert all("high_perplexity" not in r.drop_reasons for r in no_lm.values())
    lm[0].unpersist()


def test_quality_filter_null_text_is_named_not_kept(spark):
    docs = spark.createDataFrame(
        [(0, "a perfectly fine document with plenty of ordinary words here"),
         (1, None)],
        "doc_id long, text string",
    )
    from ct_clickhouse_spark.operators.text import quality_filter

    rows = {r.doc_id: r for r in quality_filter(docs, min_words=3).collect()}
    assert rows[0].keep
    assert not rows[1].keep and list(rows[1].drop_reasons) == ["null_text"]


def test_lm_inline_matches_join_path(spark):
    """r15 optimization gate: the literal-map inline scoring path and the
    explode+join lm_score path must be BIT-IDENTICAL (same encs, same
    sorted fold, same float op order) — the inline path serves small LMs,
    the join path serves corpus-scale vocabularies, and the driver oracle
    only ever sees whichever side of LM_INLINE_MAX_ENTRIES the fixture
    lands on."""
    from ct_clickhouse_spark import artifacts
    from ct_clickhouse_spark.catalog import load_table
    from ct_clickhouse_spark.operators.text import (
        _lm_maps,
        bigram_lm_scores,
        lm_score,
    )

    sf_dir = "/root/testdata/sf0.001"
    inline = bigram_lm_scores(spark, sf_dir)  # populates the LM artifact
    lm = artifacts.entries("bigram_lm", spark)[(sf_dir,)]
    maps = _lm_maps(spark, sf_dir, lm)
    assert maps is not None, "fixture LM should be under the inline gate"
    joined = lm_score(load_table(spark, sf_dir, "documents"), lm=lm)
    a = inline.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = joined.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_lm_paths_match_on_synthetic_edge_docs(spark):
    """r15 advice: the inline/join parity must hold on the edge classes
    the fixture may not contain — NULL text, empty text, one-word docs
    (no bigrams), all-OOV docs, and heavy within-doc bigram REPETITION
    (which exercises the r16 join path's (doc_id, w1, w2) -> count
    pre-aggregation + array_repeat re-expansion of the sorted fold)."""
    import pandas as pd

    from ct_clickhouse_spark import artifacts
    from ct_clickhouse_spark.operators.text import (
        _lm_encs,
        _lm_agg_cols,
        _lm_maps,
        _bigram_strings,
        _words,
        lm_score,
    )
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    from ct_clickhouse_spark.operators.text import bigram_lm_scores

    bigram_lm_scores(spark, sf_dir)  # populate the LM artifact
    lm = artifacts.entries("bigram_lm", spark)[(sf_dir,)]
    maps = _lm_maps(spark, sf_dir, lm)
    assert maps is not None

    # one in-vocab word pair, repeated, gives _cnt > 1 per (w1, w2)
    w1w2 = lm[0].limit(1).collect()[0]
    invocab = f"{w1w2['w1']} {w1w2['w2']}"
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "solitary"),
            (4, "zzq qqz zzq qqz zzq"),  # all-OOV bigrams
            (5, " ".join([invocab] * 7)),  # heavy repetition, in-vocab
            (6, f"{invocab} zzq {invocab}"),  # mixed OOV / repeated
        ],
        "doc_id long, text string",
    )
    joined = lm_score(docs, lm=lm).toPandas().sort_values("doc_id")
    with_encs = docs.select(
        "doc_id",
        _lm_encs(_bigram_strings(_words(F.col("text"))), maps).alias("_encs"),
    )
    cols = _lm_agg_cols(F.col("_encs"), lm[1])
    inline = (
        with_encs.select(
            "doc_id",
            cols["n_bigrams"],
            cols["sum_c12"],
            cols["n_oov"],
            cols["bigram_nll"],
        )
        .toPandas()
        .sort_values("doc_id")
    )
    pd.testing.assert_frame_equal(
        joined.reset_index(drop=True), inline.reset_index(drop=True)
    )
