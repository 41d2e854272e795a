"""corpus_dedup: the pipeline cookbook chain over fresh document batches.

Each batch goes ``normalize_text`` -> ``quality_filter`` ->
``incremental_dedup`` (against the corpus's text hashes) ->
``ngram_jaccard_pairs_for`` -> ``label_propagate`` (one survivor per
near-duplicate group) -> ``chunk_documents``, and the chunks are written
as Parquet, the way a pipeline hands them to the next step. The chain
adds one step to the README cookbook: the new documents are pinned with
``localCheckpoint`` after the exact dedup (see ``chain``). A traced run
also times one batch without it, ``pipeline.unpinned_batch_s``.

Set-up (timed): the corpus's text hashes are computed and cached, as a
pipeline keeps them between batches; then ``CORPUS_WARM_BATCHES`` warm-up
batches run (batch time levels off after the first, cold one). Every
timed batch is new input.

End-to-end metrics: ``op_p50_ms`` is the median batch time,
``throughput_per_s`` documents per second at that median and
``fresh_p50_ms`` the median time until a batch's new documents (those
surviving exact dedup against the corpus) are known and pinned.
"""

from __future__ import annotations

import time

from . import config as C
from . import gen
from .checks import check_chunks, check_survivors
from .common import Result, median
from .trace import Tracer

STAGES = (
    ("operators.text", "normalize_text"),
    ("operators.text", "quality_filter"),
    ("operators.dedup", "incremental_dedup"),
    ("operators.dedup", "ngram_jaccard_pairs_for"),
    ("operators.similarity", "label_propagate"),
    ("operators.text", "chunk_documents"),
)


def build_index(spark, corpus_path: str):
    """The corpus's md5 keys, cached, as the pipeline keeps them."""
    from pyspark.sql import functions as F

    keys = spark.read.parquet(corpus_path).select(F.md5("text").alias("md5")).cache()
    keys.count()
    return keys


def _as_is(name: str, df):
    return df


def chain(spark, docs, index, tracer: Tracer, stage=_as_is, pin: bool = True):
    """The six stages as the pipeline composes them; returns (chunks
    frame, perf_counter when the batch's new documents were known). Each
    builder call is its own span, so jobs a builder fires eagerly are
    attributed to it. ``stage(name, frame)`` sees each stage's output and
    returns the frame the chain goes on with. ``pin=False`` runs the chain
    exactly as the README cookbook writes it, without the pin below."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.operators.dedup import incremental_dedup, ngram_jaccard_pairs_for
    from ct_clickhouse_spark.operators.similarity import label_propagate
    from ct_clickhouse_spark.operators.text import chunk_documents, normalize_text, quality_filter

    with tracer.span("normalize_text", "operators.text"):
        df = normalize_text(docs)
    df = stage("normalize_text", df)
    with tracer.span("quality_filter", "operators.text"):
        df = quality_filter(df).filter("keep").select("doc_id", "text")
    df = stage("quality_filter", df)
    with tracer.span("incremental_dedup", "operators.dedup"):
        # as the cookbook calls it: the Bloom sketch is built inside the call
        df = incremental_dedup(df.withColumn("md5", F.md5("text")), index, "md5")
        df = df.select("doc_id", "text")
        if pin:
            # not in the cookbook: the new documents are pinned once, since
            # the near-duplicate stages read them several times and
            # re-deriving them per read costs ~40 s a batch on 4 cores
            df = df.localCheckpoint()
    t_new = time.perf_counter()
    df = stage("incremental_dedup", df)
    with tracer.span("ngram_jaccard_pairs_for", "operators.dedup"):
        pairs = ngram_jaccard_pairs_for(df)
    pairs = stage("ngram_jaccard_pairs_for", pairs)
    with tracer.span("label_propagate", "operators.similarity"):
        labels = label_propagate(
            df.select(F.col("doc_id").alias("id")),
            pairs.select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")),
        )
    labels = stage("label_propagate", labels)
    survivors = df.join(
        labels.filter(F.col("id") == F.col("label")).select(F.col("id").alias("doc_id")), "doc_id"
    )
    with tracer.span("chunk_documents", "operators.text"):
        chunks = chunk_documents(survivors)
    return stage("chunk_documents", chunks), t_new


def run_batch(spark, batch: gen.Batch, index, out: str, tracer: Tracer, **how) -> tuple[float, float]:
    """Seconds from handing the batch to Spark until (its chunks are
    written, its new documents are known). ``how`` goes to ``chain``."""
    t = time.perf_counter()
    docs = spark.createDataFrame(batch.docs, "doc_id long, text string")
    chunks, t_new = chain(spark, docs, index, tracer, **how)
    with tracer.span("write_chunks", "operators.text"):
        chunks.write.parquet(out)
    return time.perf_counter() - t, t_new - t


def check_batch(spark, batch: gen.Batch, out: str) -> str | None:
    from pyspark.sql import functions as F

    got = spark.read.parquet(out)
    survivors = {r[0] for r in got.select("doc_id").distinct().collect()}
    why = check_survivors(batch, survivors)
    if why:
        return why
    from ct_clickhouse_spark.operators.text import CHUNK_STRIDE, CHUNK_WORDS

    texts = dict(batch.docs)
    n = got.agg(F.count(F.lit(1))).collect()[0][0]
    return check_chunks({i: texts[i] for i in survivors}, n, CHUNK_WORDS, CHUNK_STRIDE)


def run(spark, env, tracer: Tracer, session_s: float) -> Result:
    res = Result()
    corpus = gen.corpus_docs(env.seed)
    corpus_path = env.path("inputs", "documents.parquet")
    gen.write_parquet(corpus, corpus_path)
    texts = corpus.column("text").to_pylist()
    batches = (gen.doc_batch(env.seed, i, texts) for i in range(10_000))

    t0 = time.perf_counter()
    with tracer.span("build_index", "operators.dedup"):
        index = build_index(spark, corpus_path)
    index_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm = [
        run_batch(spark, next(batches), index, env.path("out", f"warm{i}"), tracer)[0]
        for i in range(C.CORPUS_WARM_BATCHES)
    ]
    warm_s = time.perf_counter() - t0

    tracer.begin_measurement()
    walls, fresh = [], []
    deadline = time.perf_counter() + env.seconds
    while time.perf_counter() < deadline or len(walls) < C.CORPUS_MIN_BATCHES:
        batch = next(batches)
        out = env.path("out", f"b{len(walls)}")
        res.attempted += 1
        with tracer.op("batch", "pipeline"):
            wall, new = run_batch(spark, batch, index, out, tracer)
        walls.append(wall)
        fresh.append(new)
        why = check_batch(spark, batch, out)
        if why:
            res.fail(why)
    tracer.end_measurement()
    if tracer.enabled:
        _trace_stages(spark, next(batches), index, tracer, res)
        _trace_unpinned(spark, next(batches), index, env, tracer, res)

    res.op_ms = [w * 1e3 for w in walls]
    res.e2e = {
        "setup_s": (session_s + index_s + warm_s, "s"),
        "op_p50_ms": (median(walls) * 1e3, "ms"),
        "throughput_per_s": (C.CORPUS_BATCH / median(walls), "1/s"),
        "fresh_p50_ms": (median(fresh) * 1e3, "ms"),
    }
    res.detail.update(
        {
            "batch_s": walls,
            "new_docs_known_s": fresh,
            "session_s": session_s,
            "index_s": index_s,
            "warm_batches_s": warm,
        }
    )
    res.extra["catalog.corpus_hashes_s"] = (index_s, "s", "setup_s")
    return res


def _trace_stages(spark, batch: gen.Batch, index, tracer: Tracer, res: Result) -> None:
    """Traced run only: one more batch, each stage's output pinned before
    the next stage starts, so a stage's time is its builder call plus
    computing its output from pinned inputs."""
    times, frames, last = {}, {}, [time.perf_counter()]

    def pin_and_time(name, df):
        df = df.localCheckpoint()
        now = time.perf_counter()
        times[name], frames[name], last[0] = now - last[0], df, now
        return df

    docs = spark.createDataFrame(batch.docs, "doc_id long, text string").localCheckpoint()
    last[0] = time.perf_counter()
    chain(spark, docs, index, tracer, stage=pin_and_time)
    for module, op in STAGES:
        res.extra[f"{module}.{op}_s"] = (times[op], "s", "op_p50_ms")
    n_pairs, n_new = frames["ngram_jaccard_pairs_for"].count(), frames["incremental_dedup"].count()
    res.extra["operators.dedup.pairs_per_doc"] = (n_pairs / max(n_new, 1), "ratio", "op_p50_ms")


def _trace_unpinned(spark, batch: gen.Batch, index, env, tracer: Tracer, res: Result) -> None:
    """Traced run only: one batch through the chain exactly as the README
    cookbook composes it (no pin after the exact dedup), timed and checked,
    so the cost the pin hides stays visible."""
    out = env.path("out", "unpinned")
    wall, _ = run_batch(spark, batch, index, out, tracer, pin=False)
    res.attempted += 1
    why = check_batch(spark, batch, out)
    if why:
        res.fail(f"unpinned chain: {why}")
    res.extra["pipeline.unpinned_batch_s"] = (wall, "s", "op_p50_ms")
    res.detail["unpinned_batch_s"] = wall


def layer_extras(res: Result, tracer: Tracer, counts: dict, events: dict) -> None:
    """Per stage of the measured traced batches: the builder call's time
    and the jobs it fired before returning; and shuffle bytes per document."""
    stages = {}
    for op in tracer.measured_ops():
        for s in tracer.subtree(op):
            stages.setdefault((s.layer, s.name), []).append(s)
    for module, op in STAGES:
        spans = stages.get((module, op), [])
        if spans:
            res.extra[f"{module}.{op}_build_ms"] = (median([s.ms for s in spans]), "ms", "op_p50_ms")
            res.extra[f"{module}.{op}_eager_jobs"] = (
                median([counts.get(s.group, (0, 0, 0))[0] for s in spans]), "count", "op_p50_ms"
            )
    for k in ("shuffle_read", "shuffle_write"):
        per_op = res.layers[f"spark.{k}_bytes_per_op"][0]
        res.extra[f"spark.{k}_bytes_per_doc"] = (per_op / C.CORPUS_BATCH, "bytes", "throughput_per_s")
