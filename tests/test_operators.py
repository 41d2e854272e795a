"""Operator-level tests: oracle parity at sf0.001 plus semantic properties
the SQL oracle can't express (sketch recall, dedup effectiveness)."""

from __future__ import annotations

import pytest

from ct_clickhouse_spark.operators import dedup, relational, similarity, text, windows
from ct_clickhouse_spark.testing import assert_matches_oracle
from tests.conftest import SF_DIR, jobs_fired

ALL_MODULES = [relational, windows, dedup, text, similarity]


def _oracle_cases():
    for mod in ALL_MODULES:
        for name in sorted(set(mod.QUERIES) & set(mod.ORACLES)):
            yield pytest.param(mod, name, id=name)


@pytest.mark.parametrize("mod,name", list(_oracle_cases()))
def test_operator_matches_oracle(spark, duck, mod, name):
    df = mod.QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, duck, mod.ORACLES[name], name)


def test_exact_dedup_removes_synthetic_duplicates(spark):
    from ct_clickhouse_spark.cert_domains import build_cert_domains

    cert = build_cert_domains(spark, SF_DIR)
    total = cert.count()
    unique = cert.dropDuplicates(["fingerprint", "domain"]).count()
    # construction duplicates cert_id % 20 == 0 wholesale (~5%)
    assert total > unique
    assert abs((total - unique) / total - 0.05) < 0.02


def test_minhash_lsh_recall_against_exact_jaccard(spark):
    """LSH candidates must recover the high-similarity pairs: at the
    fixture's similarity level (planted near-dups at j>=0.95) banded
    MinHash recall should be ~1."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.doc_ngram_jaccard_pairs(spark, SF_DIR).collect()
        if r.jaccard >= 0.9
    }
    approx = {
        (r.doc_a, r.doc_b) for r in dedup.doc_minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} too low ({len(exact)} exact pairs)"


def test_stop_shingle_cap_bounds_hot_key_without_losing_near_dups(spark):
    """A boilerplate shingle shared by every document must not generate
    quadratic pairs (it is dropped by the df cap), while a planted
    near-duplicate pair sharing many rare shingles must survive."""
    boiler = "copyright footer text"  # one 3-gram shared by all docs
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{boiler} unique{i} word{i} filler{i} pad{i}") for i in range(80)]
    rows.append((1000, near_a))
    rows.append((1001, near_a + " extra"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs_for(docs).collect()
    }
    # 80 docs share only the boilerplate shingle (df=80 > cap=50): without
    # the cap they would form 80*79/2 pairs at jaccard ~0.2-1.0; with it
    # they share nothing
    assert (1000, 1001) in pairs, "planted near-dup lost by the shingle cap"
    assert pairs[(1000, 1001)] >= 0.5
    assert all(a == 1000 for a, _ in pairs), f"boilerplate pairs leaked: {pairs}"


def test_approx_ntile_agrees_with_exact_quartiles(spark):
    """The sketch-bounded quartile assignment must agree with exact global
    ntile(4) for nearly every customer (disagreement only within sketch
    error of the three boundaries)."""
    exact = {
        r.c_custkey: r.balance_quartile
        for r in windows.spend_quartiles(spark, SF_DIR).collect()
    }
    approx = {
        r.c_custkey: r.balance_quartile
        for r in windows.spend_quartiles_approx(spark, SF_DIR).collect()
    }
    assert set(exact) == set(approx)
    agree = sum(1 for k in exact if exact[k] == approx[k]) / len(exact)
    assert agree >= 0.95, f"approx ntile agreement {agree:.3f}"


def test_simhash_near_dups_have_close_hashes(spark):
    """Near-duplicate docs (exact jaccard >= 0.9) should have simhash
    hamming distance well below random (~16 for 32-bit)."""
    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup.doc_ngram_jaccard_pairs(spark, SF_DIR).collect()
        if r.jaccard >= 0.9
    ]
    sims = {r.doc_id: r.simhash for r in dedup.doc_simhash(spark, SF_DIR).collect()}
    assert pairs
    for a, b in pairs:
        ham = bin(int(sims[a]) ^ int(sims[b])).count("1")
        assert ham <= 8, f"simhash hamming {ham} for near-dup pair ({a},{b})"


def test_lsh_ann_recall_against_brute_force(spark):
    """Banded hyperplane LSH should recover a reasonable fraction of the
    true above-threshold pairs (theory: ~50% at cosine ~0.45 with 4x4)."""
    exact = {
        (r.id_a, r.id_b) for r in similarity.cosine_pairs(spark, SF_DIR).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.lsh_candidate_pairs(spark, SF_DIR).collect()
    }
    assert approx <= exact, "LSH pairs are cosine-verified: must be a subset"
    if exact:
        assert len(approx) / len(exact) >= 0.2


def test_ivf_topk_recall_against_brute_force(spark):
    """IVF with 2/8 probes should recover most of the true top-10."""
    exact = [r.vec_id for r in similarity.cosine_topk(spark, SF_DIR).collect()]
    approx = {r.vec_id for r in similarity.ivf_topk(spark, SF_DIR).collect()}
    recall = len(set(exact) & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall}"
    # IVF cosines are exact for returned ids: spot-check against brute list
    exact_map = {
        r.vec_id: r.cosine for r in similarity.cosine_topk(spark, SF_DIR).collect()
    }
    for r in similarity.ivf_topk(spark, SF_DIR).collect():
        if r.vec_id in exact_map:
            assert abs(r.cosine - exact_map[r.vec_id]) < 1e-9


def test_embedding_dedup_components_match_union_find(spark):
    """Label-propagation canonical groups == exact connected components of
    the cosine-pair graph (reference union-find over the collected pairs),
    and keepers are the component minima."""
    pairs = [
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs(spark, SF_DIR).collect()
    ]
    assert pairs, "fixture should contain near-dup embedding pairs"
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    got = {
        r.vec_id: (r.canonical_id, r.is_keeper)
        for r in similarity.embedding_dedup_groups(spark, SF_DIR).collect()
    }
    assert len(got) == 500  # one row per vector
    expected_roots = {v: find(v) for v in parent}
    for vec_id, (canon, keeper) in got.items():
        assert canon == expected_roots.get(vec_id, vec_id)
        assert keeper == (canon == vec_id)


def test_train_test_split_decontamination_detects_cross_split_leaks(spark):
    """The 8-gram leakage check must flag the planted near-dup docs that
    straddle the md5 split — nonzero on BOTH sides (a leaky n-gram is by
    definition present in each split), never exceeding the group size."""
    rows = text.train_test_split(spark, SF_DIR).collect()
    assert all(0 <= r.n_leaky_docs <= r.n_docs for r in rows)
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_leaky_docs
    assert by_split.get("train", 0) > 0, "no leaky train docs — vacuous check"
    assert by_split.get("test", 0) > 0, "no leaky test docs — vacuous check"
    # saturation guard: the old 3-gram version flagged ~100% of docs
    total_docs = sum(r.n_docs for r in rows)
    assert sum(by_split.values()) < total_docs / 2


def test_asof_join_matches_bruteforce_on_random_streams_with_ties(spark):
    """asof_join == per-purchase max(view_ts <= purchase_ts) on seeded
    random streams over a SMALL timestamp domain — forcing equal-ts
    view/purchase collisions, the inclusive-boundary case, and users
    with purchases before any view (null view_ts)."""
    import random

    rng = random.Random(41)
    n_users, ts_domain = 8, 12
    views = [
        (rng.randrange(n_users), rng.randrange(ts_domain)) for _ in range(60)
    ]
    purchases = [
        (rng.randrange(n_users), rng.randrange(ts_domain), eid)
        for eid in range(80)
    ]
    vdf = spark.createDataFrame(views, "user_id long, ts long")
    pdf = spark.createDataFrame(purchases, "user_id long, ts long, event_id long")
    got = {
        r.event_id: r.view_ts for r in windows.asof_join(vdf, pdf).collect()
    }
    want = {}
    for u, ts, eid in purchases:
        eligible = [vts for vu, vts in views if vu == u and vts <= ts]
        want[eid] = max(eligible) if eligible else None
    assert got == want
    assert None in got.values(), "no purchase-before-any-view case — vacuous"
    collisions = [
        eid for u, ts, eid in purchases if (u, ts) in set(views)
    ]
    assert collisions, "no equal-ts collision case — vacuous"


def _union_find_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-of-component normalization needs a second pass after all unions
    return {v: find(v) for v in range(n_nodes)}


LABEL_ROUTES = ("driver", "distributed")


def _label_route(monkeypatch, route: str) -> None:
    """Force label_propagate onto ``route`` and fail if the other runs."""

    def forbidden(*args):
        raise AssertionError(f"label_propagate left the {route} route")

    if route == "driver":
        monkeypatch.setattr(similarity, "_label_propagate_rounds", forbidden)
    else:
        # -1, not 0: not even an empty pair graph is read to the driver
        monkeypatch.setattr(similarity, "LABEL_PROPAGATE_DRIVER_MAX_PAIRS", -1)
        monkeypatch.setattr(similarity, "_driver_components", forbidden)


@pytest.mark.parametrize("route", LABEL_ROUTES)
def test_label_propagate_matches_union_find_on_random_and_chain_graphs(
    spark, monkeypatch, route
):
    """label_propagate == exact union-find on seeded random graphs AND a
    long path graph, on both routes — the path's diameter (39) exceeds
    any small fixed round cap, pinning the run-to-convergence loop."""
    import random

    _label_route(monkeypatch, route)
    cases = []
    for seed in (7, 23):
        rng = random.Random(seed)
        n = 100
        cases.append(
            (n, [(rng.randrange(n), rng.randrange(n)) for _ in range(80)])
        )
    # path graph with the HIGH end as the min label's far side: node 0 at
    # one end must propagate 39 hops
    cases.append((40, [(i, i + 1) for i in range(39)]))

    for n, raw_edges in cases:
        edges = [(a, b) for a, b in raw_edges if a != b]
        want = _union_find_components(n, edges)
        ids = spark.range(n).select("id")
        pairs = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
        )
        got = {
            r.id: r.label
            for r in similarity.label_propagate(ids, pairs).collect()
        }
        assert got == want


def test_driver_components_matches_union_find_on_large_random_graph():
    """The driver route's numpy union-find against the loop reference on
    a graph too large to push through Spark in a unit test (15k random
    edges over 20k nodes: small components beside one of 11k nodes)."""
    import numpy as np

    rng = np.random.default_rng(5)
    n = 20_000
    a, b = rng.integers(0, n, 15_000), rng.integers(0, n, 15_000)
    want = _union_find_components(n, list(zip(a.tolist(), b.tolist())))
    got = similarity._driver_components(a, b)
    moved = dict(zip(got["id"].tolist(), got["label"].tolist()))
    assert all(v != label for v, label in moved.items())
    assert {v: moved.get(v, v) for v in range(n)} == want


@pytest.mark.parametrize("route", LABEL_ROUTES)
def test_label_propagate_degenerate_inputs(spark, monkeypatch, route):
    """label_propagate's input contract, the same on both routes."""
    _label_route(monkeypatch, route)
    schema = "id_a long, id_b long"

    def labels(ids, pairs):
        ids = spark.createDataFrame([(i,) for i in ids], "id long")
        got = similarity.label_propagate(ids, spark.createDataFrame(pairs, schema))
        return sorted((r.id, r.label) for r in got.collect())

    # no pairs: every id is its own component
    assert labels([3, 1, 2], []) == [(1, 1), (2, 2), (3, 3)]
    # no ids: no rows, whatever the pairs say
    assert labels([], [(1, 2)]) == []
    # self-loops, duplicate and reversed duplicate edges change nothing
    assert labels([1, 2, 3, 4], [(4, 4), (2, 3), (2, 3), (3, 2), (1, 1)]) == [
        (1, 1),
        (2, 2),
        (3, 2),
        (4, 4),
    ]
    # endpoints absent from ids: 0 and 5 meet only through the missing 9,
    # and 7 is joined to nothing present, so none of them moves
    assert labels([0, 1, 2, 5, 7], [(0, 9), (5, 9), (1, 2), (7, 8)]) == [
        (0, 0),
        (1, 1),
        (2, 1),
        (5, 5),
        (7, 7),
    ]


def test_label_propagate_driver_route_fires_only_its_bounded_read(spark):
    """On the driver route the builder's only jobs are those of its one
    bounded read of the pair source (the induced-pair pin and the capped
    fetch, counted against a standalone run of the same read), and the
    returned plan is ``ids`` broadcast-joined to the label map: no Union
    with isolated nodes and no loop frame."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.plans import executed_plan

    ids = spark.range(40).select("id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 38, 3)], "id_a long, id_b long"
    )

    def bounded_read():
        edges = (
            pairs.join(ids.select(F.col("id").alias("id_a")), "id_a", "left_semi")
            .join(ids.select(F.col("id").alias("id_b")), "id_b", "left_semi")
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
        edges.limit(similarity.LABEL_PROPAGATE_DRIVER_MAX_PAIRS + 1).toPandas()

    read_jobs = jobs_fired(spark, "test-lp-read", bounded_read)
    assert read_jobs > 0
    out = []
    assert (
        jobs_fired(
            spark,
            "test-lp-route",
            lambda: out.append(similarity.label_propagate(ids, pairs)),
        )
        == read_jobs
    )
    plan = executed_plan(out[0])
    assert "BroadcastHashJoin" in plan and "Union" not in plan, plan
    assert "ExistingRDD" not in plan, plan  # no checkpointed loop frame
    want = {i: i - 1 if i % 3 == 1 else i for i in range(40)}
    assert {r.id: r.label for r in out[0].collect()} == want


def test_redact_pii_replaces_and_counts(spark):
    rows = [
        (1, "mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567"),
        (2, "server at 192.168.0.1 and 10.0.0.255, no pii otherwise"),
        (3, "clean text with numbers 42 and the year 2024"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in text.redact_pii(df).collect()}
    assert "[EMAIL]" in got[1].text and "example.co.uk" not in got[1].text
    assert "[PHONE]" in got[1].text and "555" not in got[1].text
    assert (got[1].n_email, got[1].n_phone) == (1, 1)
    assert got[2].text.count("[IP]") == 2 and got[2].n_ip == 2
    # IPs must not be double-matched by the phone pattern
    assert "[PHONE]" not in got[2].text
    assert got[3].text == rows[2][1]  # untouched
    assert (got[3].n_email, got[3].n_ip, got[3].n_phone) == (0, 0, 0)


def test_lang_id_prefers_english_on_stopworded_text(spark):
    rows = text.lang_id(spark, SF_DIR).collect()
    # fixture text contains 'the'/'a' (english stopwords) -> no row should
    # score de/fr/es above en
    assert all(r.pred_lang in ("en", "unknown") for r in rows)


def test_span_removal_removes_planted_duplicate_span(spark):
    """A >=k-word run shared by two docs is cut from BOTH (symmetric
    removal); untouched docs keep their exact reassembled hash."""
    import hashlib

    rows = [
        (1, "alpha beta gamma delta epsilon zeta unique1 tail1"),
        (2, "prefix2 alpha beta gamma delta epsilon zeta tail2"),
        (3, "totally different words here nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.remove_duplicate_spans(docs, k=5, min_docs=2).collect()
    }
    # the shared 6-word run yields two duplicated 5-grams per doc covering
    # exactly those 6 positions
    assert out[1].n_removed == 6 and out[2].n_removed == 6
    assert out[3].n_removed == 0
    assert (
        out[3].text_hash
        == hashlib.md5(rows[2][1].encode()).hexdigest()
    )
    # doc 1 keeps its unique head/tail words
    assert out[1].n_words == 8


def test_span_removal_fully_duplicated_doc_hashes_empty(spark):
    import hashlib

    txt = "one two three four five six seven"
    docs = spark.createDataFrame([(1, txt), (2, txt)], "doc_id long, text string")
    empty = hashlib.md5(b"").hexdigest()
    for r in dedup.remove_duplicate_spans(docs).collect():
        assert r.n_removed == r.n_words
        assert r.text_hash == empty


def test_span_removal_short_docs_pass_through(spark):
    """Docs shorter than k words can host no k-gram: nothing removed,
    including when their full text equals another short doc."""
    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc")], "doc_id long, text string"
    )
    for r in dedup.remove_duplicate_spans(docs, k=5).collect():
        assert r.n_removed == 0 and r.n_words == 2


def test_sq8_topk_recall_against_brute_force(spark):
    """SQ8 code-domain candidate generation + exact re-rank must recover
    the exact top-k at high recall on the fixture."""
    exact = {r.vec_id for r in similarity.cosine_topk(spark, SF_DIR).collect()}
    approx = {r.vec_id for r in similarity.sq8_topk(spark, SF_DIR).collect()}
    assert len(exact & approx) / len(exact) >= 0.9


def test_sq8_codes_are_int8_and_candidates_prune(spark):
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.catalog import load_table

    codes, scales = similarity._sq8_index(spark, SF_DIR)
    assert dict(codes.dtypes)["codes"] == "array<tinyint>"
    assert len(scales) == similarity.EMBED_DIM
    # every code must be representable in int8 (symmetric scheme)
    bad = codes.filter(
        F.exists("codes", lambda c: F.abs(c) > similarity.SQ8_LEVELS)
    ).count()
    assert bad == 0
    # the candidate stage must actually prune: k*refine << corpus
    n = load_table(spark, SF_DIR, "embeddings").count()
    assert similarity.TOPK * similarity.SQ8_REFINE < n


def test_salted_join_hot_path_equals_plain_join(spark):
    """Partial salting under PLANTED skew: the hot key must be detected,
    routed through the salted branch, and the result must stay
    row-identical to the plain inner join (including NULL keys dropping
    on both paths and cold keys joining unsalted)."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.operators.relational import (
        detect_hot_keys,
        salted_join,
    )

    big = spark.range(10_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(7))
        .when(F.col("id") % 997 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("id") % 500)
        .alias("bk"),
        (F.col("id") % 13).alias("bv"),
    )
    small = spark.range(500).select(
        F.col("id").alias("sk"), (F.col("id") % 7).alias("m")
    ).unionAll(
        spark.range(3).select(F.lit(7).alias("sk"), F.col("id").alias("m"))
    )
    hot = detect_hot_keys(big, "bk", hot_threshold=1000)
    assert hot == [7], hot
    plain = big.join(small, big.bk == small.sk)
    salted = salted_join(big, small, "bk", "sk", n_salt=4, hot_threshold=1000)
    cols = ["bk", "bv", "sk", "m"]
    assert salted.count() == plain.count()
    assert (
        plain.select(cols).exceptAll(salted.select(cols)).count() == 0
        and salted.select(cols).exceptAll(plain.select(cols)).count() == 0
    )


def test_salted_join_precomputed_hot_keys_lazy(spark):
    """With ``hot_keys`` given, construction must stay lazy (no Spark
    job — asserted via the job-count before/after) and the result must
    still be row-identical to the plain join; an empty list must
    degenerate to the plain join shape."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.operators.relational import salted_join

    big = spark.range(2_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(7))
        .otherwise(F.col("id") % 100)
        .alias("bk"),
        (F.col("id") % 13).alias("bv"),
    )
    small = spark.range(100).select(
        F.col("id").alias("sk"), (F.col("id") % 7).alias("m")
    )
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    salted = salted_join(big, small, "bk", "sk", n_salt=4, hot_keys=[7])
    empty_hot = salted_join(big, small, "bk", "sk", n_salt=4, hot_keys=[])
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after == jobs_before, "plan construction ran a Spark job"
    plain = big.join(small, big.bk == small.sk)
    cols = ["bk", "bv", "sk", "m"]
    for df in (salted, empty_hot):
        assert df.count() == plain.count()
        assert (
            plain.select(cols).exceptAll(df.select(cols)).count() == 0
            and df.select(cols).exceptAll(plain.select(cols)).count() == 0
        )


def test_salted_join_equals_plain_join(spark):
    """Salting must be a pure physical rewrite: same rows out."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderstatus")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
    salted = relational.salted_join(li, orders, "l_orderkey", "o_orderkey", n_salt=4)
    cols = ["l_orderkey", "l_quantity", "o_orderkey", "o_orderstatus"]
    assert salted.count() == plain.count()
    assert (
        plain.select(cols).exceptAll(salted.select(cols)).count() == 0
        and salted.select(cols).exceptAll(plain.select(cols)).count() == 0
    )


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """T8 in streaming mode: session_window over a chunked file stream
    with watermark converges to the batch session result."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.catalog import load_table

    src = str(tmp_path / "src")
    events = load_table(spark, SF_DIR, "events").orderBy("ts", "event_id")
    n = events.count()
    first = events.limit(n // 2)
    events.subtract(first).coalesce(1).write.parquet(src + "/chunk=1")
    first.coalesce(1).write.parquet(src + "/chunk=0")

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/chunk=*")
        .withColumn("ts_tz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_tz", "1 hour")
        .groupBy(F.session_window("ts_tz", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r["w"].start.isoformat(), r.n_events)
        for r in spark.sql("SELECT * FROM sessions_stream").collect()
    }
    want = {
        (r.user_id, r.session_start.isoformat(), r.n_events)
        for r in windows.session_windows(spark, SF_DIR).collect()
    }
    assert got == want


def test_broadcast_join_in_region_revenue(spark):
    plan = (
        relational.region_revenue(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, "dim joins must broadcast"


def test_gemm_blocks_grow_with_corpus_size():
    """The exact GEMM tier's tile count must scale with the corpus: fixed
    blocks means tile size (and task memory) grows linearly with n."""
    from ct_clickhouse_spark.operators.similarity import (
        GEMM_ROWS_PER_TILE,
        MIN_GEMM_BLOCKS,
        _gemm_blocks,
    )

    assert _gemm_blocks(100) == MIN_GEMM_BLOCKS
    assert _gemm_blocks(GEMM_ROWS_PER_TILE * 10) == 10
    assert _gemm_blocks(GEMM_ROWS_PER_TILE * 1000) == 1000
    sizes = [10**k for k in range(2, 9)]
    blocks = [_gemm_blocks(n) for n in sizes]
    assert blocks == sorted(blocks)
    # rows-per-tile stays bounded whatever n is
    for n, b in zip(sizes, blocks):
        assert n / b <= GEMM_ROWS_PER_TILE


def test_cosine_pairs_result_invariant_to_block_count(spark):
    """Tiling is a physical choice: any block count must give the same
    pair set (pins the one-task-per-unordered-pair bookkeeping)."""
    want = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.cosine_pairs(spark, SF_DIR, blocks=4).collect()
    }
    for blocks in (1, 3, 7):
        got = {
            (r.id_a, r.id_b, r.cosine)
            for r in similarity.cosine_pairs(spark, SF_DIR, blocks=blocks).collect()
        }
        assert got == want, f"pair set changed at blocks={blocks}"
    assert want


def _write_planted_embeddings(tmp_path, n_clusters=12, cluster_size=5, n_noise=20):
    """Synthetic embeddings fixture with orthogonal planted clusters:
    cluster i = one-hot basis vector e_i plus tiny deterministic noise, so
    within-cluster cosine ~0.9999 and cross-cluster ~0.0 — far from the
    0.42 threshold on both sides, making LSH recall exact by construction."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(7)
    d = 64
    rows_id, rows_vec = [], []
    vid = 0
    for c in range(n_clusters):
        base = np.zeros(d)
        base[c] = 1.0
        for _ in range(cluster_size):
            v = base + rng.normal(0, 0.005, d)
            rows_id.append(vid)
            rows_vec.append((v / np.linalg.norm(v)).astype("float32").tolist())
            vid += 1
    for _ in range(n_noise):
        # noise points: random directions in the span ABOVE the cluster
        # axes so they sit near-orthogonal to every cluster
        v = np.zeros(d)
        v[n_clusters:] = rng.normal(0, 1, d - n_clusters)
        rows_id.append(vid)
        rows_vec.append((v / np.linalg.norm(v)).astype("float32").tolist())
        vid += 1
    tbl = pa.table(
        {
            "vec_id": pa.array(rows_id, pa.int64()),
            "embedding": pa.array(rows_vec, pa.list_(pa.float32())),
            "label": pa.array([0] * len(rows_id), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    return len(rows_id)


def test_dedup_groups_identical_from_gemm_and_lsh_pair_sources(spark, tmp_path):
    """The pairs_fn swap point: on planted well-separated clusters the
    sub-quadratic LSH pair source must yield the SAME dedup groups as the
    exact GEMM source — the property that licenses the at-scale default."""
    n = _write_planted_embeddings(tmp_path)
    sf = str(tmp_path)
    got_gemm = {
        (r.vec_id, r.canonical_id, r.is_keeper)
        for r in similarity.embedding_dedup_groups(
            spark, sf, pairs_fn=similarity.cosine_pairs
        ).collect()
    }
    got_lsh = {
        (r.vec_id, r.canonical_id, r.is_keeper)
        for r in similarity.embedding_dedup_groups(
            spark, sf, pairs_fn=similarity.lsh_candidate_pairs
        ).collect()
    }
    assert len(got_gemm) == n
    assert got_gemm == got_lsh
    # sanity: the clusters actually grouped (keepers < rows)
    assert sum(1 for _, _, k in got_gemm if k) < n


def test_dedup_groups_default_pair_source_switches_on_size(spark, tmp_path, monkeypatch):
    """Below the threshold the default is the exact GEMM; above it the
    banded LSH — asserted by watching which function is invoked."""
    _write_planted_embeddings(tmp_path)
    sf = str(tmp_path)
    calls = []

    def spy(fn, tag):
        def wrapped(s, d):
            calls.append(tag)
            return fn(s, d)

        return wrapped

    monkeypatch.setattr(
        similarity, "cosine_pairs", spy(similarity.cosine_pairs, "gemm")
    )
    monkeypatch.setattr(
        similarity,
        "lsh_candidate_pairs",
        spy(similarity.lsh_candidate_pairs, "lsh"),
    )
    similarity.embedding_dedup_groups(spark, sf).collect()
    assert calls == ["gemm"]
    calls.clear()
    monkeypatch.setattr(similarity, "EXACT_PAIRS_MAX_ROWS", 10)
    similarity.embedding_dedup_groups(spark, sf).collect()
    assert calls == ["lsh"]


def test_label_propagate_rounds_logarithmic_on_path_graph(spark):
    """Pointer doubling: the 39-hop path graph must converge in O(log n)
    rounds (plain neighbor-min needs ~39), with the same labels."""
    n = 40
    ids = spark.range(n).select("id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels, rounds = similarity._label_propagate_rounds(ids, pairs)
    got = {r.id: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 10, f"expected O(log n) rounds, took {rounds}"


def test_distributed_quantiles_match_buffering_exact_twin(spark):
    """The driver slot runs only the distributed plan; this cross-check
    keeps the small-data buffering percentile() twin as its oracle."""
    a = {
        r.l_returnflag: (r.p25, r.p50, r.p75)
        for r in relational.price_quantiles(spark, SF_DIR).collect()
    }
    b = {
        r.l_returnflag: (r.p25, r.p50, r.p75)
        for r in relational.price_quantiles_distributed(spark, SF_DIR).collect()
    }
    assert a == b and a


def test_distributed_ntile_matches_window_twin(spark):
    """Distributed global ntile == the single-partition Window.ntile twin
    row-for-row (the twin is pytest-only; the driver runs distributed)."""
    a = {
        r.c_custkey: (r.c_acctbal, r.balance_quartile)
        for r in windows.spend_quartiles(spark, SF_DIR).collect()
    }
    b = {
        r.c_custkey: (r.c_acctbal, r.balance_quartile)
        for r in windows.spend_quartiles_distributed(spark, SF_DIR).collect()
    }
    assert a == b and a


def test_exact_group_quantiles_high_cardinality_no_literal_maps(spark):
    """10k groups through the distributed quantile path: values must match
    Spark's buffering percentile() per group, and the plan must contain no
    create_map literals (the old shape embedded an O(|groups|) literal map
    — a driver bottleneck and codegen cliff at high cardinality)."""
    from pyspark.sql import functions as F

    n_groups = 10_000
    df = (
        spark.range(100_000)
        .select(
            F.concat(F.lit("g"), (F.col("id") % n_groups)).alias("g"),
            (F.xxhash64("id") % 10_000).cast("double").alias("v"),
        )
    )
    ps = [0.25, 0.5, 0.75]
    got_df = relational.exact_group_quantiles(df, "g", "v", ps, n_partitions=16)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "create_map" not in plan and "keys:" not in plan, "literal map in plan"
    got = {(r.g, r.p): r.value for r in got_df.collect()}
    want_rows = (
        df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.25, 0.5, 0.75))").alias("q"))
        .collect()
    )
    assert len(got) == n_groups * len(ps)
    for r in want_rows:
        for p, w in zip(ps, r.q):
            assert abs(got[(r.g, p)] - w) < 1e-9, (r.g, p)


def test_exact_group_quantiles_no_full_data_checkpoint(spark):
    """The r11 verdict's structural objection: the old shape eagerly
    localCheckpoint'ed the ENTIRE range-partitioned projection per query
    (a full second copy of the scanned columns at 100 TB). The rewrite
    derives deterministic bucket ids from a frozen boundary frame, so the
    only frames that may ever be checkpointed are AGGREGATED tiny ones —
    assert no checkpointed frame carries the row-level value column."""
    from unittest import mock

    from pyspark.sql.classic.dataframe import DataFrame as CDF

    seen = []
    orig = CDF.localCheckpoint

    def spy(self, *a, **k):
        seen.append(list(self.columns))
        return orig(self, *a, **k)

    df = spark.range(5000).selectExpr(
        "concat('g', id % 7) as g", "cast(id % 997 as double) as v"
    )
    with mock.patch.object(CDF, "localCheckpoint", spy):
        got = relational.exact_group_quantiles(df, "g", "v", [0.5]).collect()
    assert seen, "expected tiny-frame checkpoints (bounds/counts/picks)"
    for cols in seen:
        assert "v" not in cols, f"row-level value column checkpointed: {cols}"
    assert len(got) == 7


def test_exact_group_quantiles_bucket_count_independence(spark):
    """The answer must be identical whatever the bucket count (boundary
    placement steers balance only): sweep n_partitions across 1, 2, a
    non-power-of-two, and widths at/above the value cardinality."""
    from pyspark.sql import functions as F

    df = spark.range(3000).select(
        F.concat(F.lit("g"), (F.col("id") % 5)).alias("g"),
        (F.xxhash64("id") % 50).cast("double").alias("v"),
    )
    ps = [0.1, 0.5, 0.9]
    want = {
        (r.g, r.p): r.value
        for r in relational.exact_group_quantiles(df, "g", "v", ps, 32).collect()
    }
    for n_p in (1, 2, 7, 64, 256):
        got = {
            (r.g, r.p): r.value
            for r in relational.exact_group_quantiles(
                df, "g", "v", ps, n_p
            ).collect()
        }
        assert got.keys() == want.keys(), n_p
        for k in want:
            assert abs(got[k] - want[k]) < 1e-12, (n_p, k)


def test_cert_dedup_log_name_fd(spark):
    """cert_dedup_exact's distinct-on-(fingerprint, domain, log_name)
    equals dropDuplicates([fingerprint, domain]) ONLY under the data
    model's functional dependency fingerprint -> log_name (a cert lives
    in exactly one log). Assert it on the fixture so a fixture/schema
    change that breaks the dependency fails here instead of silently
    double-counting per-log uniques."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.cert_domains import build_cert_domains

    cert = build_cert_domains(spark, SF_DIR)
    violations = (
        cert.groupBy("fingerprint")
        .agg(F.countDistinct("log_name").alias("n_logs"))
        .filter(F.col("n_logs") > 1)
        .count()
    )
    assert violations == 0
