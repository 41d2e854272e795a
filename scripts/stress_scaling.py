#!/usr/bin/env python
"""Empirical scaling check: run the heavy operators on synthetically
multiplied data (k x UNION of the sf0.1 fixtures with shifted keys) and
report wall-clock vs multiplier. Near-linear growth is the evidence that
the plans scale by data volume, not by some super-linear term.

Usage: python scripts/stress_scaling.py [k ...]   (default 1 2 4)

Set SPARK_GRAFT_STRESS_ONLY=fam1,fam2 to run a subset of families —
the big multipliers (100x) are affordable for the linear families but
not for the deliberately-worst-case replication families (shingle
self-join under 100-way duplication, GEMM at 100x kernel work).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"


def multiplied(spark, name: str, key_cols: list[str], k: int):
    """k copies with shifted keys so join/group cardinality scales too."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.catalog import load_table

    base = load_table(spark, SF_DIR, name)
    parts = []
    for i in range(k):
        df = base
        for c in key_cols:
            df = df.withColumn(c, F.col(c) + F.lit(i * 100_000_000))
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def main() -> None:
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.session import get_spark

    ks = [int(x) for x in sys.argv[1:]] or [1, 2, 4]
    spark = get_spark(app_name="stress")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict[int, float]] = {}

    # fixed tokenizer artifact for the bpe_encode family (the trainer has
    # its own cost model; this row measures APPLICATION)
    from ct_clickhouse_spark.catalog import load_table as _lt
    from ct_clickhouse_spark.operators.text import bpe_train

    bpe_merges = bpe_train(_lt(spark, SF_DIR, "documents"), n_merges=16)

    only = {
        f for f in os.environ.get("SPARK_GRAFT_STRESS_ONLY", "").split(",") if f
    }

    def timed(tag: str, k: int, fn):
        if only and tag not in only:
            return
        fn()  # warm
        # same protocol as bench.py: gc outside the timed window, or the
        # accumulated session state lands multi-second stalls inside
        # random measurements (observed 36s vs 10s for the same op)
        spark.sparkContext._jvm.System.gc()
        t0 = time.time()
        fn()
        results.setdefault(tag, {})[k] = round(time.time() - t0, 2)

    for k in ks:
        li = multiplied(spark, "lineitem", ["l_orderkey"], k)
        orders = multiplied(spark, "orders", ["o_orderkey", "o_custkey"], k)
        from ct_clickhouse_spark.session import default_parallelism

        docs = multiplied(spark, "documents", ["doc_id"], k).repartition(
            default_parallelism()
        )

        # scan-heavy hash aggregate (TPC-H Q1 shape)
        timed("pricing_summary_agg", k, lambda: li.groupBy(
            "l_returnflag", "l_linestatus"
        ).agg(F.sum("l_quantity"), F.avg("l_extendedprice"), F.count(F.lit(1))).collect())

        # fact-fact join + agg
        timed("fact_join_agg", k, lambda: li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderpriority").agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        ).collect())

        # window function over the multiplied keys
        from pyspark.sql import Window

        w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        # aggregate over the window column itself, or Catalyst prunes the
        # window away as dead code
        timed("window_running", k, lambda: orders.select(
            "o_custkey", F.sum("o_totalprice").over(w).alias("r")
        ).agg(F.round(F.sum("r"), 2)).collect())

        # shingle self-join (near-dup) on multiplied docs
        words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        idx = F.sequence(F.lit(0), F.size(words) - 3)
        grams = F.when(
            F.size(words) >= 3,
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(words, (i + 1).cast("int")),
                        F.element_at(words, (i + 2).cast("int")),
                        F.element_at(words, (i + 3).cast("int")),
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        sh = docs.select(
            "doc_id", F.explode(F.transform(grams, lambda s: F.xxhash64(s))).alias("h")
        )
        a, b = sh.alias("a"), sh.alias("b")
        timed("shingle_self_join", k, lambda: a.join(
            b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        ).groupBy(F.col("a.doc_id"), F.col("b.doc_id")).agg(F.count(F.lit(1))).agg(
            F.count(F.lit(1))
        ).collect())

        # the PRODUCTION near-dup join (stop-shingle df cap engaged):
        # under k-way replication every shingle's document frequency is
        # >= k, so at k > SHINGLE_DF_CAP the cap classifies the entire
        # replicated corpus as boilerplate and drops it before the
        # self-join — the run's cost collapses to explode + df-agg +
        # anti-join, which is exactly the bound the cap exists to give a
        # boilerplate-bombed corpus at 100 TB (the uncapped raw join
        # above is the contrast row; at 100x it would be ~10^4 pairs per
        # shingle occurrence and is deliberately not run)
        from ct_clickhouse_spark.operators.dedup import ngram_jaccard_pairs_for

        timed("shingle_capped_join", k, lambda: ngram_jaccard_pairs_for(docs)
            .agg(F.count(F.lit(1)))
            .collect())

        # LSH signature pipeline on multiplied embeddings — the linear
        # O(n·d·bits) 100 TB similarity path (candidate-pair volume is a
        # data-density property that synthetic replication distorts, so
        # only the signature computation is timed)
        from ct_clickhouse_spark.operators.similarity import (
            _hyperplanes,
            label_propagate,
        )

        emb = multiplied(spark, "embeddings", ["vec_id"], k)
        comps = emb.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
        )
        hp = _hyperplanes(spark)
        timed("lsh_signatures", k, lambda: comps.join(F.broadcast(hp), "pos")
            .groupBy("vec_id", "bit")
            .agg(F.sum(F.col("v") * F.col("sign")).alias("dot"))
            .groupBy("vec_id")
            .agg(F.sum(F.when(F.col("dot") > 0, 1).otherwise(0)))
            .agg(F.count(F.lit(1)))
            .collect())

        # exact GEMM pair tier (round 4): multiplied embeddings written to
        # a temp fixture dir so cosine_pairs runs its real path, including
        # the size-adaptive tile count (blocks = ceil(n/4096)): task
        # memory stays fixed while task count absorbs growth. Replicated
        # copies are identical vectors, so cross-copy pairs add k*(k-1)/2
        # exact-dup rows per base vector — bounded output inflation, the
        # kernel work is the n^2·d term being measured.
        import tempfile

        from ct_clickhouse_spark.operators.similarity import (
            _gemm_blocks,
            cosine_pairs,
        )

        gemm_dir = tempfile.mkdtemp(prefix=f"stress_emb_{k}x_")
        emb_for_gemm = multiplied(spark, "embeddings", ["vec_id"], k)
        emb_for_gemm.write.mode("overwrite").parquet(
            os.path.join(gemm_dir, "embeddings.parquet")
        )
        n_emb = emb_for_gemm.count()
        n_blocks = _gemm_blocks(n_emb)
        results.setdefault("gemm_blocks", {})[k] = n_blocks
        timed("gemm_pairs", k, lambda: cosine_pairs(spark, gemm_dir, blocks=n_blocks)
            .agg(F.count(F.lit(1)))
            .collect())

        # SemDeDup cluster-scoped pairs on the same multiplied embedding
        # fixture (round 4). Centroid training is once-per-dir by design
        # (bounded cache) and runs in the warm call; the timed run is the
        # steady-state cost — top-P cell assignment + cell-local kernels.
        from ct_clickhouse_spark.operators.similarity import semdedup_pairs

        timed("semdedup_pairs", k, lambda: semdedup_pairs(spark, gemm_dir)
            .agg(F.count(F.lit(1)))
            .collect())

        # duplicated-span removal over the multiplied documents (round 4):
        # gram-count shuffle + per-doc array reassembly, linear in corpus
        from ct_clickhouse_spark.operators.dedup import remove_duplicate_spans

        timed("span_removal", k, lambda: remove_duplicate_spans(docs)
            .agg(F.sum("n_removed"), F.count(F.lit(1)))
            .collect())

        # connected-components label propagation over linearly replicated
        # edges (k independent copies of the near-dup pair graph: edges,
        # nodes, and components all scale k x, diameter constant)
        from ct_clickhouse_spark.operators.similarity import cosine_pairs

        base_pairs = cosine_pairs(spark, SF_DIR).select("id_a", "id_b")
        pair_parts = []
        for i in range(k):
            pair_parts.append(
                base_pairs.select(
                    (F.col("id_a") + F.lit(i * 100_000_000)).alias("id_a"),
                    (F.col("id_b") + F.lit(i * 100_000_000)).alias("id_b"),
                )
            )
        pairs_k = pair_parts[0]
        for p in pair_parts[1:]:
            pairs_k = pairs_k.unionAll(p)
        ids_k = emb.select(F.col("vec_id").alias("id"))
        timed("label_propagation", k, lambda: label_propagate(ids_k, pairs_k)
            .agg(F.count_distinct("label"))
            .collect())

        # range join (round 3): events x k against per-type maintenance
        # windows — candidate volume scales with events, never N*M
        import datetime

        from ct_clickhouse_spark.operators.rangejoin import interval_join

        events_k = multiplied(spark, "events", ["event_id", "user_id"], k)
        b0 = events_k.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
        span = (b0.hi - b0.lo).total_seconds()
        types = [r.event_type for r in events_k.select("event_type").distinct().collect()]
        iv_rows = [
            (et, b0.lo + datetime.timedelta(seconds=span * j / 6.0),
             b0.lo + datetime.timedelta(seconds=span * j / 6.0, minutes=90))
            for et in types
            for j in range(6)
        ]
        iv = spark.createDataFrame(
            iv_rows, "event_type string, start timestamp_ntz, end timestamp_ntz"
        )
        timed("range_join", k, lambda: interval_join(
            events_k.select("ts", "event_type"), iv, extra_key="event_type"
        ).agg(F.count(F.lit(1))).collect())

        # bloom pre-join pruning (round 3): sketch build is one tiny agg
        # over the dim; probe is a codegen filter over the fact scan
        from ct_clickhouse_spark.operators.bloomjoin import bloom_pruned_join

        cust_k = multiplied(spark, "customer", ["c_custkey"], k)
        dim_k = cust_k.filter(F.col("c_custkey") % 50 == 0).select(
            F.col("c_custkey").alias("o_custkey")
        )
        timed("bloom_pruned_join", k, lambda: bloom_pruned_join(
            orders, dim_k, "o_custkey", expected_items=max(2000 * k, 2000)
        ).agg(F.count(F.lit(1))).collect())

        # incremental dedup (round 4): new-batch vs corpus. Both sides
        # scale k x. Below INCREMENTAL_BLOOM_MIN_CORPUS corpus keys the
        # operator is a plain anti-join; at or above it the sketch build is
        # linear in corpus keys and the anti-join sees only the
        # bloom-positive sliver. The route each size took goes to stderr.
        from ct_clickhouse_spark.operators.dedup import incremental_dedup
        from ct_clickhouse_spark.plans import executed_plan

        batch_k = docs.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id", F.md5("text").alias("h")
        )
        corpus_k = docs.filter(F.col("doc_id") % 5 != 0).select(
            F.md5("text").alias("h")
        )
        n_corpus = corpus_k.count()

        def inc_dedup():
            return incremental_dedup(batch_k, corpus_k, "h", expected_items=n_corpus)

        timed("incremental_dedup", k, lambda: inc_dedup().agg(
            F.count(F.lit(1))).collect())
        if not only or "incremental_dedup" in only:
            # the Bloom route's membership predicate hashes with xxhash64
            route = "bloom" if "xxhash64" in executed_plan(inc_dedup()) else "anti-join"
            print(
                f"incremental_dedup x{k}: {route} route ({n_corpus} corpus keys)",
                file=sys.stderr,
            )

        # KMV sketch (round 4): distinct hash agg + spillable per-group
        # window top-k; output bounded at k doubles per group
        from ct_clickhouse_spark.operators.sketches import kmv_sketch

        timed("kmv_sketch", k, lambda: kmv_sketch(
            li, ["l_returnflag"], "l_partkey", 256
        ).collect())

        # BPE encode (round 4): rank-greedy application with the
        # per-partition word memo — linear in corpus words for a fixed
        # merge table (trained once on the base corpus, outside the loop)
        from ct_clickhouse_spark.operators.text import bpe_encode

        timed("bpe_encode", k, lambda: bpe_encode(docs, bpe_merges)
            .agg(F.sum(F.size("tokens")))
            .collect())

        # bigram-LM scoring (round 4): the production shape — the LM
        # artifact is trained once per corpus snapshot (warm, untimed,
        # like the BPE merge table above) and scoring batches ride it
        from ct_clickhouse_spark.operators.text import lm_score, train_bigram_lm

        if not only or "lm_score" in only:  # the artifact build is eager
            lm_artifact = train_bigram_lm(docs.filter(F.col("lang") == "en"))
            timed("lm_score", k, lambda: lm_score(docs, lm=lm_artifact)
                .agg(F.sum("sum_c12"), F.avg("bigram_nll")).collect())
            lm_artifact[0].unpersist()

        # feature-hashing TF (round 4): pure-JVM projection, no shuffle
        from ct_clickhouse_spark.operators.text import hashed_tf

        timed("hashed_tf", k, lambda: hashed_tf(docs)
            .agg(F.sum(F.get(F.col("embedding"), 0)))
            .collect())

        # mergeable histogram backfill (round 4): one bucket hash agg +
        # per-group densify; output fixed at bins+2 longs per group
        from ct_clickhouse_spark.streaming.rollup import (
            backfill_rollup_histogram,
        )

        ev_for_hist = events_k.select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
        )
        timed("histogram_backfill", k, lambda: backfill_rollup_histogram(
            ev_for_hist, 0.0, 1000.0
        ).agg(F.count(F.lit(1))).collect())

        # partial-salting skew demo (round 7, r6 verdict #1): planted hot
        # key holding half the big side, small side too big to broadcast
        # at 100 TB (simulated by disabling auto-broadcast). Plain SMJ
        # lands the hot key's entire join output in ONE task; partial
        # salting (hot-key-only) spreads exactly that key across n_salt
        # tasks and plain-joins the rest — the row pair below is the
        # measured evidence that salted < plain under skew, and that the
        # rewrite costs only the single-column hot-key count when skew is
        # absent.
        if not only or {"skew_plain_join", "skew_salted_join"} & only:
            from ct_clickhouse_spark.operators.relational import salted_join

            old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            old_abc = spark.conf.get(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_bc
            )
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            try:
                hot_mult = 512  # small-side rows for the hot key
                big_sk = spark.range(2_000_000 * k).select(
                    F.when(F.col("id") % 2 == 0, F.lit(-1))
                    .otherwise(F.pmod(F.xxhash64(F.col("id")), F.lit(100_000)))
                    .alias("bk"),
                    (F.col("id") % 97).alias("bv"),
                )
                small_sk = spark.range(100_000).select(
                    F.col("id").alias("sk"), F.lit(1).alias("m")
                ).unionAll(
                    spark.range(hot_mult).select(
                        F.lit(-1).alias("sk"), F.lit(1).alias("m")
                    )
                )
                timed("skew_plain_join", k, lambda: big_sk.join(
                    small_sk, big_sk.bk == small_sk.sk
                ).agg(F.count(F.lit(1)), F.sum(F.col("bv") * F.col("m"))).collect())
                timed("skew_salted_join", k, lambda: salted_join(
                    big_sk, small_sk, "bk", "sk", n_salt=32,
                    hot_threshold=100_000 * k,
                ).agg(F.count(F.lit(1)), F.sum(F.col("bv") * F.col("m"))).collect())
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
                spark.conf.set(
                    "spark.sql.adaptive.autoBroadcastJoinThreshold", old_abc
                )

        # mutation family (round 6, r5 verdict #8): a FIXED-size update
        # batch against a table whose data AND partition count grow with
        # k (the time-partitioned-table shape: growth adds partitions,
        # updates touch the newest few). The batch's keys land in
        # partitions pt 0..3 only, so the cost target is "proportional
        # to touched partitions, not table size": the pruned match scan
        # is the only full-metadata step; the rewrite reads and writes
        # exactly 4 partition directories at every k.
        if not only or {"mutation_upsert", "mutation_delete"} & only:
            import shutil
            import tempfile

            from ct_clickhouse_spark.plans.maintenance import (
                delete_where,
                merge_upsert,
            )

            n_parts = 4 * k
            mut_dir = tempfile.mkdtemp(prefix="stress_mut_")
            mpath = os.path.join(mut_dir, "t")
            mut_base = spark.range(200_000 * k).select(
                F.col("id").alias("key"),
                (F.col("id") % n_parts).cast("int").alias("pt"),
                F.lit(0).alias("version"),
                F.sha2(F.col("id").cast("string"), 256).alias("payload"),
            )
            mut_base.repartition("pt").write.partitionBy("pt").parquet(mpath)
            # fixed 20k-row batch; key = 4k*i + (i%4)  =>  pt = i%4 in {0..3}
            updates = spark.range(20_000).select(
                (F.col("id") * n_parts + F.col("id") % 4).alias("key"),
                (F.col("id") % 4).cast("int").alias("pt"),
                F.lit(1).alias("version"),
                F.lit("updated").alias("payload"),
            )
            # merge_upsert is idempotent for a fixed batch (replay
            # converges), so warm + timed runs measure the same work
            timed("mutation_upsert", k, lambda: merge_upsert(
                spark, mpath, updates, ["key"],
                partition_col="pt", version_col="version",
            ))
            # delete: timed cold (a second pass would have nothing left
            # to delete); predicate matches ~5k rows in pt 0..3 only
            if not only or "mutation_delete" in only:
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                n_del, n_touched = delete_where(
                    spark, mpath,
                    f"pt < 4 AND key % {4 * n_parts} = pt",
                    partition_col="pt",
                )
                results.setdefault("mutation_delete", {})[k] = round(
                    time.time() - t0, 2
                )
                assert n_touched <= 4, (n_del, n_touched)
            shutil.rmtree(mut_dir, ignore_errors=True)

    # perceptual multi-probe band-join grid (r6 #7 / r7 verdict #3):
    # runs at its OWN multipliers (1/10/100 — candidate volume is the
    # question, and 2x/4x barely moves it). The real image+audio
    # signature tables replicate k times with a per-replica 64-bit XOR
    # mask: XOR preserves intra-replica Hamming distances, so every
    # replica carries the same planted near-dup pairs, while
    # cross-replica distances randomize to ~32 bits — the uniform-hash
    # regime where the n^2 * 68/2^16 candidate bound is the honest cost
    # model. Measures candidate generation + exact bit_count verify end
    # to end (pair count scales ~k for the planted pairs; wall clock
    # tracks candidates, the quantity SCALING.md's bound predicts).
    if not only or "perceptual_band_join" in only:
        from ct_clickhouse_spark.operators.multimodal import (
            audio_signatures,
            hamming_near_dup_pairs,
            image_signatures,
        )

        sig0 = (
            image_signatures(spark, SF_DIR)
            .select("media_id", F.col("phash").alias("h"))
            .unionByName(
                audio_signatures(spark, SF_DIR).select(
                    "media_id", F.col("afp").alias("h")
                )
            )
        )
        n0 = sig0.count()
        # replica-id stride derived from the measured corpus, not a fixed
        # constant: a fixed 10M stride silently merges replicas (and
        # corrupts the candidate/pair counts this grid measures) once the
        # base media_id range reaches it on larger fixtures (r8 advice).
        stride = (
            sig0.agg(F.max("media_id").alias("m")).collect()[0]["m"] or 0
        ) + 1
        for k in (1, 10, 100):
            reps = spark.range(k).select(
                F.col("id").alias("rep"),
                F.when(F.col("id") == 0, F.lit(0))
                .otherwise(F.xxhash64(F.col("id"), F.lit("percep-mask")))
                .alias("mask"),
            )
            sig_k = sig0.crossJoin(F.broadcast(reps)).select(
                (F.col("media_id") + F.col("rep") * F.lit(stride)).alias(
                    "media_id"
                ),
                F.col("h").bitwiseXOR(F.col("mask")).alias("h"),
            )
            pairs = hamming_near_dup_pairs(sig_k, "h")
            timed("perceptual_band_join", k, lambda p=pairs: p.count())
        results.setdefault("perceptual_band_join_rows", {})[1] = n0

    print(json.dumps({"multipliers": ks, "seconds": results}))
    spark.stop()


if __name__ == "__main__":
    main()
